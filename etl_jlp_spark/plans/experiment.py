"""Experimentation analytics: deterministic A/B assignment, Welch's
t-test, CUPED variance reduction, and a seasonal-naive forecast
baseline with error evaluation.

The reference platform reports descriptive aggregates only; a
production analytics engine also has to ANSWER "did the change work?"
— that's an experiment readout (assignment → per-user metric → Welch t
— plus CUPED (arXiv:1304.7406 / Deng et al. WSDM'13), the standard
pre-period-covariate adjustment that removes between-user variance the
treatment can't explain) — and "what did we expect?" — a forecast
baseline (seasonal naive: tomorrow ≈ same weekday last week) whose
error the fancier models must beat.

Scale notes:
- Assignment is a pure md5 projection (no RNG, no allocation service
  round-trip, stable under replays/backfills).
- The readout is TWO aggregations: events → per-user (pre, post) sums
  (user-keyed, map-side combinable), then per-user rows → ONE row of
  conditional moments (Σ, Σ², Σxy per variant in a single pass). No
  window, no sort, no driver math beyond the final expression.
- All statistics are computed from raw moments with formula text
  identical in both engines, every output rounded + ``+ 0.0`` (IEEE
  −0.0 canonicalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.registry import query

AB_SPLIT_HEX = "8"  # md5(user_id)[0] < '8' → variant A (50/50)
AB_PERIOD_BOUNDARY = "2024-01-16 00:00:00"  # pre/post split of the observed month


@query(
    "ab_test_report",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS variant,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{AB_PERIOD_BOUNDARY}' THEN value ELSE 0 END) AS DOUBLE) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{AB_PERIOD_BOUNDARY}' THEN value ELSE 0 END) AS DOUBLE) AS y,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{AB_PERIOD_BOUNDARY}' THEN 1 ELSE 0 END) AS BIGINT) AS n_post
  FROM events GROUP BY user_id
), pop AS (
  SELECT * FROM per_user WHERE n_post > 0
), m AS (
  SELECT
    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
    sum(CASE WHEN variant = 'A' THEN y ELSE 0 END) AS sya,
    sum(CASE WHEN variant = 'B' THEN y ELSE 0 END) AS syb,
    sum(CASE WHEN variant = 'A' THEN y * y ELSE 0 END) AS syya,
    sum(CASE WHEN variant = 'B' THEN y * y ELSE 0 END) AS syyb,
    sum(x) AS sx, sum(x * x) AS sxx, sum(y) AS sy, sum(x * y) AS sxy,
    CAST(count(*) AS DOUBLE) AS n
  FROM pop
), s AS (
  SELECT *,
    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
    sya / na AS ma, syb / nb AS mb,
    (syya - sya * sya / na) / (na - 1) AS va,
    (syyb - syb * syb / nb) / (nb - 1) AS vb
  FROM m
), adj AS (
  SELECT s.*,
    sum(CASE WHEN p.variant = 'A' THEN p.y - s.theta * (p.x - s.sx / s.n) ELSE 0 END) AS saa,
    sum(CASE WHEN p.variant = 'B' THEN p.y - s.theta * (p.x - s.sx / s.n) ELSE 0 END) AS sab,
    sum(CASE WHEN p.variant = 'A' THEN power(p.y - s.theta * (p.x - s.sx / s.n), 2) ELSE 0 END) AS qaa,
    sum(CASE WHEN p.variant = 'B' THEN power(p.y - s.theta * (p.x - s.sx / s.n), 2) ELSE 0 END) AS qab
  FROM pop p CROSS JOIN s
  GROUP BY ALL
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma, 4) + 0.0 AS mean_a, round(mb, 4) + 0.0 AS mean_b,
       round(ma - mb, 4) + 0.0 AS diff,
       round((ma - mb) / sqrt(va / na + vb / nb), 4) + 0.0 AS t_stat,
       round(theta, 4) + 0.0 AS theta,
       round(saa / na - sab / nb, 4) + 0.0 AS adj_diff,
       round((saa / na - sab / nb)
             / sqrt(((qaa - saa * saa / na) / (na - 1)) / na
                    + ((qab - sab * sab / nb) / (nb - 1)) / nb), 4) + 0.0 AS adj_t_stat,
       round(1.0 - (((qaa - saa * saa / na) + (qab - sab * sab / nb))
                    / ((syya - sya * sya / na) + (syyb - syb * syb / nb))), 4) + 0.0
         AS var_reduction
FROM adj
""",
)
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row experiment readout on per-user post-period value with a
    CUPED pre-period adjustment: deterministic md5 50/50 assignment,
    Welch's t on the raw metric, θ = cov(x,y)/var(x) pooled, the
    adjusted metric y − θ(x − x̄), its Welch t, and the realized
    variance-reduction fraction. Two aggregation passes (events →
    per-user, per-user → moments) + one tiny second pass for adjusted
    moments; every side except raw events is user-count-sized or
    1 row."""
    boundary = F.lit(AB_PERIOD_BOUNDARY).cast("timestamp")
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < boundary, F.col("value")).otherwise(0.0))
            .cast("double")
            .alias("x"),
            F.sum(F.when(F.col("ts") >= boundary, F.col("value")).otherwise(0.0))
            .cast("double")
            .alias("y"),
            F.sum(F.when(F.col("ts") >= boundary, 1).otherwise(0))
            .cast("long")
            .alias("n_post"),
        )
        .withColumn(
            "variant",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
        .filter(F.col("n_post") > 0)
    )
    # No persist: the per_user aggregate appears as an IDENTICAL subtree
    # in both consumers, so Spark's ReusedExchange dedupes the shuffle at
    # runtime (asserted in test_plans.py) — caching it would leak blocks
    # for the session lifetime since this API returns a lazy DataFrame
    # and has no post-materialization hook to unpersist on.
    A = F.col("variant") == "A"
    m = per_user.agg(
        F.sum(F.when(A, 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(~A, 1).otherwise(0)).cast("double").alias("nb"),
        F.sum(F.when(A, F.col("y")).otherwise(0.0)).alias("sya"),
        F.sum(F.when(~A, F.col("y")).otherwise(0.0)).alias("syb"),
        F.sum(F.when(A, F.col("y") * F.col("y")).otherwise(0.0)).alias("syya"),
        F.sum(F.when(~A, F.col("y") * F.col("y")).otherwise(0.0)).alias("syyb"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.count(F.lit(1)).cast("double").alias("n"),
    ).withColumns(
        {
            "theta": (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")),
            "ma": F.col("sya") / F.col("na"),
            "mb": F.col("syb") / F.col("nb"),
            "va": (F.col("syya") - F.col("sya") * F.col("sya") / F.col("na"))
            / (F.col("na") - 1),
            "vb": (F.col("syyb") - F.col("syb") * F.col("syb") / F.col("nb"))
            / (F.col("nb") - 1),
        }
    )
    adj_metric = F.col("y") - F.col("theta") * (F.col("x") - F.col("sx") / F.col("n"))
    adj = (
        per_user.crossJoin(F.broadcast(m))
        .agg(
            F.any_value("na").alias("na"),
            F.any_value("nb").alias("nb"),
            F.any_value("ma").alias("ma"),
            F.any_value("mb").alias("mb"),
            F.any_value("va").alias("va"),
            F.any_value("vb").alias("vb"),
            F.any_value("theta").alias("theta"),
            F.any_value("syya").alias("syya"),
            F.any_value("sya").alias("sya"),
            F.any_value("syyb").alias("syyb"),
            F.any_value("syb").alias("syb"),
            F.sum(F.when(A, adj_metric).otherwise(0.0)).alias("saa"),
            F.sum(F.when(~A, adj_metric).otherwise(0.0)).alias("sab"),
            F.sum(F.when(A, F.pow(adj_metric, 2)).otherwise(0.0)).alias("qaa"),
            F.sum(F.when(~A, F.pow(adj_metric, 2)).otherwise(0.0)).alias("qab"),
        )
    )
    r4 = lambda c: F.round(c, 4) + 0.0
    adj_da = F.col("saa") / F.col("na") - F.col("sab") / F.col("nb")
    va_adj = (F.col("qaa") - F.col("saa") * F.col("saa") / F.col("na")) / (F.col("na") - 1)
    vb_adj = (F.col("qab") - F.col("sab") * F.col("sab") / F.col("nb")) / (F.col("nb") - 1)
    ss_raw = (F.col("syya") - F.col("sya") * F.col("sya") / F.col("na")) + (
        F.col("syyb") - F.col("syb") * F.col("syb") / F.col("nb")
    )
    ss_adj = (F.col("qaa") - F.col("saa") * F.col("saa") / F.col("na")) + (
        F.col("qab") - F.col("sab") * F.col("sab") / F.col("nb")
    )
    return adj.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        r4(F.col("ma")).alias("mean_a"),
        r4(F.col("mb")).alias("mean_b"),
        r4(F.col("ma") - F.col("mb")).alias("diff"),
        r4(
            (F.col("ma") - F.col("mb"))
            / F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
        ).alias("t_stat"),
        r4(F.col("theta")).alias("theta"),
        r4(adj_da).alias("adj_diff"),
        r4(adj_da / F.sqrt(va_adj / F.col("na") + vb_adj / F.col("nb"))).alias(
            "adj_t_stat"
        ),
        r4(1.0 - ss_adj / ss_raw).alias("var_reduction"),
    )


@query(
    "seasonal_naive_eval",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY CAST(ts AS DATE), event_type
), joined AS (
  SELECT d.event_type, d.day, d.c, w.c AS c7, y.c AS c1
  FROM daily d
  JOIN daily w ON w.event_type = d.event_type AND w.day = d.day - 7
  JOIN daily y ON y.event_type = d.event_type AND y.day = d.day - 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days_eval,
       round(avg(abs(c - c7)), 4) + 0.0 AS mae_seasonal,
       round(avg(abs(c - c1)), 4) + 0.0 AS mae_naive1,
       round(avg(abs(c - c7) / c), 4) + 0.0 AS mape_seasonal,
       round(1.0 - avg(abs(c - c7)) / avg(abs(c - c1)), 4) + 0.0 AS skill_vs_naive1
FROM joined GROUP BY event_type
""",
)
def seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation per event type: the seasonal-naive
    prediction (same weekday last week) scored with MAE/MAPE against
    actuals, alongside the naive-1 baseline (yesterday) and the skill
    ratio between them — the floor every real forecasting model must
    beat before it ships (the forecasting twin of the ANN recall gate:
    measure the baseline, don't assume it).

    Plan: ONE map-side-combinable daily aggregate; both lag joins are
    equi-joins on the PRE-REDUCED (day, type) relation (#days×#types
    rows — broadcast-trivial at any raw-event volume); never a window
    or join over raw events."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    w = daily.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("c").alias("c7")
    )
    y = daily.select(
        "event_type", F.date_add("day", 1).alias("day"), F.col("c").alias("c1")
    )
    joined = daily.join(w, ["event_type", "day"]).join(y, ["event_type", "day"])
    r4 = lambda c: F.round(c, 4) + 0.0
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_eval"),
        r4(F.avg(F.abs(F.col("c") - F.col("c7")))).alias("mae_seasonal"),
        r4(F.avg(F.abs(F.col("c") - F.col("c1")))).alias("mae_naive1"),
        r4(F.avg(F.abs(F.col("c") - F.col("c7")) / F.col("c"))).alias("mape_seasonal"),
        r4(
            1.0
            - F.avg(F.abs(F.col("c") - F.col("c7"))) / F.avg(F.abs(F.col("c") - F.col("c1")))
        ).alias("skill_vs_naive1"),
    )


@query(
    "cohort_ltv",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY user_id
), per_day AS (
  SELECT e.user_id, f.cohort,
         date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS age,
         sum(e.value) AS v
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY e.user_id, f.cohort, date_diff('day', f.cohort, CAST(e.ts AS DATE))
), cohort_age AS (
  SELECT cohort, CAST(age AS BIGINT) AS age,
         CAST(round(sum(v) * 10000) AS BIGINT) AS day_e4
  FROM per_day GROUP BY cohort, age
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM firsts GROUP BY cohort
)
, cum AS (
  SELECT c.cohort, c.age, s.n_users,
         sum(c.day_e4) OVER (PARTITION BY c.cohort ORDER BY c.age) AS cum_e4
  FROM cohort_age c JOIN sizes s ON c.cohort = s.cohort
)
SELECT cohort, age, n_users,
       CAST((cum_e4 - (((cum_e4 % n_users) + n_users) % n_users))
            // n_users AS DOUBLE) / 10000.0 AS ltv_per_user
FROM cum
""",
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per user by cohort age: users grouped
    by first-seen day, their revenue accumulated over days-since-first
    and normalized by cohort size — the LTV curve marketing/retention
    reporting reads next to the cohort-retention matrix.

    Plan: first-seen via one user-keyed agg (broadcast back onto the
    fact scan), daily sums pre-reduced per (user, age) then per
    (cohort, age); the running sum is a window over the PRE-REDUCED
    #cohorts×#ages relation (calendar-bounded — the anomaly_zscore
    discipline), never over raw events."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    per_day = (
        events.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "user_id",
            "cohort",
            F.datediff(F.to_date("ts"), F.col("cohort")).alias("age"),
        )
        .agg(F.sum("value").alias("v"))
    )
    # Integer arithmetic from here down: daily sums quantize to 1e-4
    # units ONCE (absorbing the engines' accumulation-order noise), the
    # running sum is exact integer addition, and the per-user division
    # is INTEGER division — float round() would otherwise hit exact
    # half-way values whenever a 4-dp cumulative divides an even cohort
    # size, and Spark (HALF_UP on the binary double) and DuckDB
    # disagree on those systematically (found by the parity gate).
    cohort_age = per_day.groupBy("cohort", F.col("age").cast("long").alias("age")).agg(
        F.round(F.sum("v") * 10000).cast("long").alias("day_e4")
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    from pyspark.sql import Window

    w = Window.partitionBy("cohort").orderBy("age")
    # FLOOR division to match DuckDB's `//` exactly: Spark's `div`
    # truncates toward zero, which diverges on negative cumulatives
    # (refund-heavy cohorts). pmod-based floor stays in exact long
    # arithmetic — no double round-trip.
    floor_div = F.expr("(cum_e4 - pmod(cum_e4, n_users)) div n_users")
    return (
        cohort_age.join(F.broadcast(sizes), "cohort")
        .withColumn("cum_e4", F.sum("day_e4").over(w))
        .select(
            "cohort",
            "age",
            "n_users",
            (floor_div.cast("double") / 10000.0).alias("ltv_per_user"),
        )
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U: the rank-sum companion to ab_test_report's Welch t.
# Revenue-per-user is heavy-tailed; the t-test's mean contrast is
# dominated by whales, while U compares the whole distributions and is
# invariant to monotone transforms. Same md5 variant split and
# per-user post-period metric as ab_test_report, so the two reports
# disagree only when the tails do — which is the point.
# ---------------------------------------------------------------------------


def _erfc_sql(x: str) -> str:
    """Abramowitz–Stegun 7.1.26 complementary error function, |err|<1.5e-7
    — identical expression text in both engines."""
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741) * {t}"
        f" - 0.284496736) * {t} + 0.254829592) * {t}"
    )
    return f"({poly} * exp(-({x}) * ({x})))"


_MW_PER_USER = f"""
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS variant,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{AB_PERIOD_BOUNDARY}' THEN value ELSE 0 END) AS DOUBLE) AS y,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{AB_PERIOD_BOUNDARY}' THEN 1 ELSE 0 END) AS BIGINT) AS n_post
  FROM events GROUP BY user_id
"""


@query(
    "mann_whitney_ab",
    oracle=f"""
WITH pop AS (SELECT * FROM ({_MW_PER_USER}) WHERE n_post > 0),
g AS (
  SELECT y, CAST(count(*) AS DOUBLE) AS t,
         CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS ta
  FROM pop GROUP BY y
), r AS (
  SELECT *, sum(t) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) - (t - 1.0) / 2.0 AS avg_rank
  FROM g
), m AS (
  SELECT sum(ta) AS na, sum(t - ta) AS nb, sum(ta * avg_rank) AS ra,
         sum(t * t * t - t) AS tie3, sum(t) AS n
  FROM r
), s AS (
  SELECT na, nb, ra, n,
         na * nb / 2.0 AS mu,
         sqrt(na * nb / 12.0 * ((n + 1.0) - tie3 / (n * (n - 1.0)))) AS sigma,
         ra - na * (na + 1.0) / 2.0 AS u_a
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(u_a, 2) AS u_a,
       round(ra / na, 4) AS mean_rank_a,
       round((n * (n + 1.0) / 2.0 - ra) / nb, 4) AS mean_rank_b,
       round((u_a - mu) / sigma, 4) + 0.0 AS z,
       round({_erfc_sql("(abs((u_a - mu) / sigma) / sqrt(2.0))")}, 6) + 0.0
         AS p_approx,
       abs((u_a - mu) / sigma) > 1.959963984540054 AS significant
FROM s
""",
)
def mann_whitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Mann–Whitney U readout on per-user post-period revenue:
    average ranks (tie-adjusted) per variant, U_A, normal-approximation
    z with the tie-corrected variance, and the A&S-approximated
    two-sided p.

    Plan: events → per-user agg (shuffle on user_id), then the rank
    machinery runs on the DISTINCT metric values (groupBy y before the
    window), so the single-partition window sorts |distinct y| rows —
    user-count-bounded — not raw events; everything after is one
    combinable aggregate to a single row. At 100 TB the same shape
    holds: the only growing stage is the per-user agg."""
    from pyspark.sql import Window

    boundary = F.lit(AB_PERIOD_BOUNDARY).cast("timestamp")
    pop = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") >= boundary, F.col("value")).otherwise(0.0))
            .cast("double")
            .alias("y"),
            F.sum(F.when(F.col("ts") >= boundary, 1).otherwise(0)).cast("long").alias("n_post"),
        )
        .withColumn(
            "variant",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
        .filter(F.col("n_post") > 0)
    )
    g = pop.groupBy("y").agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).cast("double").alias("ta"),
    )
    w = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = g.withColumn("avg_rank", F.sum("t").over(w) - (F.col("t") - 1.0) / 2.0)
    m = r.agg(
        F.sum("ta").alias("na"),
        F.sum(F.col("t") - F.col("ta")).alias("nb"),
        F.sum(F.col("ta") * F.col("avg_rank")).alias("ra"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
        F.sum("t").alias("n"),
    )
    s = m.select(
        "na",
        "nb",
        "ra",
        "n",
        (F.col("na") * F.col("nb") / 2.0).alias("mu"),
        F.sqrt(
            F.col("na")
            * F.col("nb")
            / 12.0
            * ((F.col("n") + 1.0) - F.col("tie3") / (F.col("n") * (F.col("n") - 1.0)))
        ).alias("sigma"),
        (F.col("ra") - F.col("na") * (F.col("na") + 1.0) / 2.0).alias("u_a"),
    )
    z = (F.col("u_a") - F.col("mu")) / F.col("sigma")
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("u_a", 2).alias("u_a"),
        F.round(F.col("ra") / F.col("na"), 4).alias("mean_rank_a"),
        F.round(
            (F.col("n") * (F.col("n") + 1.0) / 2.0 - F.col("ra")) / F.col("nb"), 4
        ).alias("mean_rank_b"),
        (F.round(z, 4) + 0.0).alias("z"),
        (
            F.round(F.expr(_erfc_sql("(abs((u_a - mu) / sigma) / sqrt(2.0))")), 6) + 0.0
        ).alias("p_approx"),
        (F.abs(z) > 1.959963984540054).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Deterministic bootstrap — interval estimates without distributional
# assumptions, reproducible across engines and re-runs: resample b
# draws row indices as a pure md5 function of (b, i), so the "random"
# resamples are data-derived constants. B fixed-size resamples of the
# full population is the exact textbook form (the correctness anchor);
# the 100 TB swap-in is the Poisson bootstrap (per-row Binomial(1/n)
# weights in ONE pass, no index join) with identical downstream shape.
# ---------------------------------------------------------------------------

BOOTSTRAP_B = 50  # resamples
BOOTSTRAP_CI = (0.025, 0.975)


@query(
    "bootstrap_ci_mean",
    oracle=f"""
WITH ranked AS (
  SELECT CAST(round(value * 10000) AS BIGINT) AS v_e4,
         row_number() OVER (ORDER BY event_id) AS rk
  FROM events
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
draws AS (
  SELECT b.b, r.rk AS i,
         (('0x' || substr(md5(b.b || ':' || r.rk), 1, 15))::BIGINT % nn.n) + 1 AS idx
  FROM ranked r
  CROSS JOIN nn
  CROSS JOIN (SELECT unnest(generate_series(1, {BOOTSTRAP_B})) AS b) b
), means AS (
  SELECT d.b,
         CAST(sum(r.v_e4) AS DOUBLE) / max(nn.n) / 10000 AS m
  FROM draws d JOIN ranked r ON r.rk = d.idx CROSS JOIN nn
  GROUP BY d.b
)
SELECT (SELECT n FROM nn) AS n_events,
       CAST({BOOTSTRAP_B} AS BIGINT) AS n_resamples,
       round((SELECT CAST(sum(v_e4) AS DOUBLE) / max(nn.n) / 10000
              FROM ranked CROSS JOIN nn), 4) + 0.0 AS mean_value,
       round(quantile_cont(m, {BOOTSTRAP_CI[0]}), 4) + 0.0 AS ci_lo,
       round(quantile_cont(m, {BOOTSTRAP_CI[1]}), 4) + 0.0 AS ci_hi,
       round(stddev_samp(m), 4) + 0.0 AS se_boot
FROM means
""",
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for the mean event value: ``BOOTSTRAP_B``
    deterministic resamples (row index = md5(b:i) mod n — a pure
    function of the data, so the interval is reproducible anywhere),
    resample means from exact e4-integer sums, interval = interpolated
    quantiles over the ``BOOTSTRAP_B`` means.

    Plan: rank rows once (the exact anchor pays one global sort; the
    Poisson-bootstrap swap-in for 100 TB needs NO ranks), fan out
    B draws per row as a projection, one equi-join back on rank, one
    B-group aggregate. Join traffic is B×n rows of two longs."""
    ev = load_table(spark, sf_dir, "events")
    ranked = ev.select(
        F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
        F.row_number().over(Window.orderBy("event_id")).alias("rk"),
    )
    # the global-order window above leaves ONE partition, and the B×N
    # md5 draw fan-out below happens AFTER it — without a pinned
    # re-spread the whole resample stage runs on a single task
    # (measured 13 s at sf0.1; AQE would coalesce an unpinned
    # repartition of this tiny pre-fan-out relation right back to 1)
    ranked = ranked.repartition(spark.sparkContext.defaultParallelism, "rk")
    nn = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bs = spark.range(1, BOOTSTRAP_B + 1).select(F.col("id").alias("b"))
    draws = (
        ranked.select(F.col("rk").alias("i"))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(bs))
        .select(
            "b",
            (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.col("b"), F.col("i"))), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.col("n"),
                )
                + 1
            ).alias("idx"),
        )
    )
    means = (
        draws.join(ranked, draws.idx == ranked.rk)
        .crossJoin(F.broadcast(nn))
        .groupBy("b")
        .agg((F.sum("v_e4").cast("double") / F.max("n") / 10000).alias("m"))
    )
    overall = ranked.crossJoin(F.broadcast(nn)).agg(
        (F.round(F.sum("v_e4").cast("double") / F.max("n") / 10000, 4) + 0.0).alias(
            "mean_value"
        )
    )
    return (
        means.agg(
            (F.round(F.expr(f"percentile(m, {BOOTSTRAP_CI[0]}D)"), 4) + 0.0).alias("ci_lo"),
            (F.round(F.expr(f"percentile(m, {BOOTSTRAP_CI[1]}D)"), 4) + 0.0).alias("ci_hi"),
            (F.round(F.stddev_samp("m"), 4) + 0.0).alias("se_boot"),
        )
        .crossJoin(F.broadcast(nn.select(F.col("n").alias("n_events"))))
        .crossJoin(F.broadcast(overall))
        .select(
            "n_events",
            F.lit(BOOTSTRAP_B).cast("long").alias("n_resamples"),
            "mean_value",
            "ci_lo",
            "ci_hi",
            "se_boot",
        )
    )


@query(
    "priority_mix_chisq",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
), margins AS (
  SELECT priority, yr, obs,
         sum(obs) OVER (PARTITION BY priority) AS row_tot,
         sum(obs) OVER (PARTITION BY yr) AS col_tot,
         sum(obs) OVER () AS n
  FROM cells
), contrib AS (
  SELECT priority, yr, obs,
         (obs - row_tot * col_tot / CAST(n AS DOUBLE)) ^ 2
           / (row_tot * col_tot / CAST(n AS DOUBLE)) AS x2,
         row_tot, n
  FROM margins
)
SELECT priority,
       CAST(sum(obs) AS BIGINT) AS n_orders,
       round(sum(x2), 4) AS chi2_contrib,
       round(sum(sum(x2)) OVER (), 4) AS chi2_total,
       CAST((count(*) - 1) * ((SELECT count(DISTINCT priority) FROM cells) - 1)
            AS BIGINT) AS dof,
       round(sqrt(sum(sum(x2)) OVER ()
             / (max(n) * least((SELECT count(DISTINCT priority) FROM cells) - 1,
                               (SELECT count(DISTINCT yr) FROM cells) - 1))), 4)
         AS cramers_v
FROM contrib GROUP BY priority
""",
)
def priority_mix_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of order priority vs order year:
    per-priority contribution, the global statistic, degrees of
    freedom, and Cramér's V — the drift test that answers "did the
    priority mix change over time" with a calibrated effect size
    instead of eyeballing shares (categorical complement of
    ks_drift_report / psi_drift_report).

    Plan: ONE scan → a |priorities|×|years|-bounded contingency
    aggregate; margins and the statistic are windows over that tiny
    cell relation (no second fact pass). The expected-count arithmetic
    runs on exact BIGINT margins, one double expression per cell."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    wr, wc, wall = Window.partitionBy("priority"), Window.partitionBy("yr"), Window.partitionBy()
    margins = cells.select(
        "priority",
        "yr",
        "obs",
        F.sum("obs").over(wr).alias("row_tot"),
        F.sum("obs").over(wc).alias("col_tot"),
        F.sum("obs").over(wall).alias("n"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    contrib = margins.select(
        "priority",
        "obs",
        "n",
        F.pow(F.col("obs") - exp, 2) / exp,
    ).toDF("priority", "obs", "n", "x2")
    # grid dimensions stay lazy (the oracle's scalar subqueries) — two
    # eager distinct().count() calls here would scan orders twice at
    # plan-construction time
    dims = cells.agg(
        F.countDistinct("priority").alias("n_pri"),
        F.countDistinct("yr").alias("n_yr"),
    )
    per = contrib.groupBy("priority").agg(
        F.sum("obs").cast("long").alias("n_orders"),
        F.round(F.sum("x2"), 4).alias("chi2_contrib"),
        F.sum("x2").alias("_x2"),
        F.count(F.lit(1)).alias("_cells"),
        F.max("n").alias("_n"),
    )
    return per.crossJoin(F.broadcast(dims)).select(
        "priority",
        "n_orders",
        "chi2_contrib",
        F.round(F.sum("_x2").over(wall), 4).alias("chi2_total"),
        ((F.col("_cells") - 1) * (F.col("n_pri") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                F.sum("_x2").over(wall)
                / (F.col("_n") * F.least(F.col("n_pri") - 1, F.col("n_yr") - 1))
            ),
            4,
        ).alias("cramers_v"),
    )


@query(
    "bayesian_ab_conversion",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), cells AS (
  SELECT variant,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM per_user GROUP BY variant
), post AS (
  SELECT variant, n_users, n_converted,
         (1.0 + n_converted) / (2.0 + n_users) AS pm,
         sqrt((1.0 + n_converted) * (1.0 + n_users - n_converted)
              / ((2.0 + n_users) * (2.0 + n_users) * (3.0 + n_users))) AS ps
  FROM cells
)
SELECT p.variant, p.n_users, p.n_converted,
       round(p.n_converted / CAST(p.n_users AS DOUBLE), 4) AS raw_rate,
       round(p.pm, 4) AS posterior_mean,
       round(p.pm - 1.96 * p.ps, 4) AS ci_lo,
       round(p.pm + 1.96 * p.ps, 4) AS ci_hi,
       round((max(CASE WHEN variant = 'B' THEN pm END) OVER ()
              - max(CASE WHEN variant = 'A' THEN pm END) OVER ())
             / sqrt(sum(ps * ps) OVER ()), 4) AS z_b_minus_a
FROM post p
""",
)
def bayesian_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial A/B readout on user-level purchase conversion
    (same deterministic md5 assignment as ab_test_report): per variant
    the Beta(1,1)-posterior mean and a 95% normal-approximation
    credible interval from the exact posterior variance
    αβ/((α+β)²(α+β+1)), plus the z-score of the B−A posterior-mean
    difference — the Bayesian companion to the frequentist CUPED
    report, all in closed form (no sampling).

    Plan: one events pass → per-user conversion flag (map-side
    combinable max), one 2-row cell aggregate; every posterior
    quantity is a scalar expression over exact BIGINT counts, so the
    result is bit-stable at any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX,
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "converted",
    )
    cells = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    pm = (1.0 + F.col("n_converted")) / (2.0 + F.col("n_users"))
    ps = F.sqrt(
        (1.0 + F.col("n_converted"))
        * (1.0 + F.col("n_users") - F.col("n_converted"))
        / ((2.0 + F.col("n_users")) * (2.0 + F.col("n_users")) * (3.0 + F.col("n_users")))
    )
    post = cells.select("variant", "n_users", "n_converted", pm.alias("pm"), ps.alias("ps"))
    w = Window.partitionBy()
    return post.select(
        "variant",
        "n_users",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_users").cast("double"), 4).alias("raw_rate"),
        F.round("pm", 4).alias("posterior_mean"),
        F.round(F.col("pm") - 1.96 * F.col("ps"), 4).alias("ci_lo"),
        F.round(F.col("pm") + 1.96 * F.col("ps"), 4).alias("ci_hi"),
        F.round(
            (
                F.max(F.when(F.col("variant") == "B", F.col("pm"))).over(w)
                - F.max(F.when(F.col("variant") == "A", F.col("pm"))).over(w)
            )
            / F.sqrt(F.sum(F.col("ps") * F.col("ps")).over(w)),
            4,
        ).alias("z_b_minus_a"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test per event type: the parametric sibling of
# mann_whitney_ab (rank-based) and ab_test_report (z on the pooled
# split) — unequal-variance mean comparison with effect size, per
# metric slice.
# ---------------------------------------------------------------------------

WELCH_ROUND = 6


@query(
    "welch_ttest_by_type",
    oracle=f"""
WITH pts AS (
  SELECT event_type,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS variant,
         CAST(round(value * 10000) AS BIGINT) AS v_e4
  FROM events
), s AS (
  SELECT event_type, variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v_e4) AS BIGINT) AS sv,
         CAST(sum(CAST(v_e4 AS DECIMAL(38,0)) * v_e4) AS DECIMAL(38,0)) AS ss
  FROM pts GROUP BY 1, 2
), wide AS (
  SELECT event_type,
         max(CASE WHEN variant = 'A' THEN n END) AS na,
         max(CASE WHEN variant = 'A' THEN sv END) AS sa,
         max(CASE WHEN variant = 'A' THEN CAST(ss AS DOUBLE) END) AS ssa,
         max(CASE WHEN variant = 'B' THEN n END) AS nb,
         max(CASE WHEN variant = 'B' THEN sv END) AS sb,
         max(CASE WHEN variant = 'B' THEN CAST(ss AS DOUBLE) END) AS ssb
  FROM s GROUP BY 1
), est AS (
  SELECT event_type, na, nb,
         CAST(sa AS DOUBLE) / na / 10000.0 AS ma,
         CAST(sb AS DOUBLE) / nb / 10000.0 AS mb,
         (ssa - CAST(sa AS DOUBLE) * sa / na) / (na - 1) / 100000000.0 AS va,
         (ssb - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1) / 100000000.0 AS vb
  FROM wide
)
SELECT event_type, na, nb,
       round(ma, 4) + 0.0 AS mean_a, round(mb, 4) + 0.0 AS mean_b,
       round((ma - mb) / sqrt(va / na + vb / nb), {WELCH_ROUND}) + 0.0 AS t_stat,
       round((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 2) + 0.0 AS df_welch,
       round((ma - mb) / sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)),
             {WELCH_ROUND}) + 0.0 AS cohens_d
FROM est
""",
)
def welch_ttest_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of event value, A vs B (the
    shared md5 user split), PER event type: means, t statistic,
    Welch-Satterthwaite df, and Cohen's d on the pooled sd. Completes
    the A/B toolkit — ab_test_report is the pooled z, mann_whitney_ab
    the rank test, bayesian_ab_conversion the posterior; this is the
    per-slice parametric readout with effect size.

    Exact: per-(type, variant) n/Σv/Σv² in int64/DECIMAL(38,0); every
    statistic is one double expression from those. One
    map-side-combinable groupBy; 2·|types| cells."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    s = (
        ev.select(
            "event_type",
            variant.alias("variant"),
            F.round(F.col("value") * 10000).cast("long").alias("v_e4"),
        )
        .groupBy("event_type", "variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_e4").cast("long").alias("sv"),
            F.sum(F.col("v_e4").cast("decimal(38,0)") * F.col("v_e4"))
            .cast("decimal(38,0)")
            .alias("ss"),
        )
    )
    A, B = F.col("variant") == "A", F.col("variant") == "B"
    wide = s.groupBy("event_type").agg(
        F.max(F.when(A, F.col("n"))).alias("na"),
        F.max(F.when(A, F.col("sv"))).alias("sa"),
        F.max(F.when(A, F.col("ss").cast("double"))).alias("ssa"),
        F.max(F.when(B, F.col("n"))).alias("nb"),
        F.max(F.when(B, F.col("sv"))).alias("sb"),
        F.max(F.when(B, F.col("ss").cast("double"))).alias("ssb"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    est = wide.select(
        "event_type",
        "na",
        "nb",
        (d("sa") / F.col("na") / 10000.0).alias("ma"),
        (d("sb") / F.col("nb") / 10000.0).alias("mb"),
        ((F.col("ssa") - d("sa") * F.col("sa") / F.col("na")) / (F.col("na") - 1) / 1e8).alias(
            "va"
        ),
        ((F.col("ssb") - d("sb") * F.col("sb") / F.col("nb")) / (F.col("nb") - 1) / 1e8).alias(
            "vb"
        ),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    pooled = F.sqrt(
        ((F.col("na") - 1) * F.col("va") + (F.col("nb") - 1) * F.col("vb"))
        / (F.col("na") + F.col("nb") - 2)
    )
    return est.select(
        "event_type",
        "na",
        "nb",
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), WELCH_ROUND).alias("t_stat"),
        F.round(
            se2 * se2
            / (
                (F.col("va") / F.col("na")) * (F.col("va") / F.col("na")) / (F.col("na") - 1)
                + (F.col("vb") / F.col("nb")) * (F.col("vb") / F.col("nb")) / (F.col("nb") - 1)
            ),
            2,
        ).alias("df_welch"),
        F.round((F.col("ma") - F.col("mb")) / pooled, WELCH_ROUND).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# Hodges–Lehmann shift — the robust effect-size companion of the
# Mann–Whitney test: median of all pairwise A−B differences.
# ---------------------------------------------------------------------------


@query(
    "hodges_lehmann_shift",
    oracle=f"""
WITH pop AS (
  SELECT user_id,
         CAST(round(sum(CASE WHEN ts >= TIMESTAMP '{AB_PERIOD_BOUNDARY}'
                        THEN value ELSE 0 END) * 100) AS BIGINT) AS yc,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{AB_PERIOD_BOUNDARY}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_post,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS variant
  FROM events GROUP BY user_id
), popf AS (SELECT * FROM pop WHERE n_post > 0),
ga AS (SELECT yc, CAST(count(*) AS BIGINT) AS t FROM popf WHERE variant = 'A' GROUP BY yc),
gb AS (SELECT yc, CAST(count(*) AS BIGINT) AS t FROM popf WHERE variant = 'B' GROUP BY yc),
cells AS (
  SELECT a.yc - b.yc AS d, CAST(sum(a.t * b.t) AS BIGINT) AS w
  FROM ga a CROSS JOIN gb b GROUP BY 1
), cum AS (
  SELECT d, sum(w) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS c,
         sum(w) OVER () AS tot
  FROM cells
), med AS (
  SELECT min(CASE WHEN c >= (tot + 1) // 2 THEN d END) AS lo,
         min(CASE WHEN c >= tot // 2 + 1 THEN d END) AS hi,
         any_value(tot) AS n_pairs
  FROM cum
), nn AS (
  SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM popf
)
SELECT n_a, n_b, CAST(n_pairs AS BIGINT) AS n_pairs,
       round((lo + hi) / 2.0 / 100.0, 4) + 0.0 AS hl_shift_usd
FROM med CROSS JOIN nn
""",
)
def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann estimate of the A−B treatment shift on per-user
    post-period revenue: the MEDIAN OF ALL PAIRWISE DIFFERENCES — the
    effect SIZE that belongs with mann_whitney_ab's significance
    verdict (robust where the means-based ab_test_report lift is
    dragged by whales; under a pure location shift it recovers the
    shift exactly).

    Scale shape: the n_A × n_B pairwise cloud is never materialized —
    values quantize to exact cents, both variants reduce to their
    VALUE-GRID histograms, and the pairwise relation is grid × grid
    with multiplicity weights t_a·t_b (bounded by the money range
    squared, not the population squared). The weighted median is a
    cumulative-weight window over the difference grid. All counts and
    cents are exact integers; both engines pick the identical
    lower/upper middles."""
    from pyspark.sql import Window

    boundary = F.lit(AB_PERIOD_BOUNDARY).cast("timestamp")
    pop = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("ts") >= boundary, F.col("value")).otherwise(0.0)) * 100
            )
            .cast("long")
            .alias("yc"),
            F.sum(F.when(F.col("ts") >= boundary, 1).otherwise(0)).cast("long").alias("n_post"),
        )
        .withColumn(
            "variant",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
        .filter(F.col("n_post") > 0)
        .localCheckpoint(eager=False)
    )
    ga = pop.filter("variant = 'A'").groupBy("yc").agg(
        F.count(F.lit(1)).cast("long").alias("ta")
    )
    gb = pop.filter("variant = 'B'").groupBy("yc").agg(
        F.count(F.lit(1)).cast("long").alias("tb")
    )
    cells = (
        ga.crossJoin(F.broadcast(gb.select(F.col("yc").alias("yb"), "tb")))
        .groupBy((F.col("yc") - F.col("yb")).alias("d"))
        .agg(F.sum(F.col("ta") * F.col("tb")).cast("long").alias("w"))
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "d",
        F.sum("w").over(wc).alias("c"),
        F.sum("w").over(Window.partitionBy()).alias("tot"),
    )
    med = cum.agg(
        F.min(
            F.when(F.col("c") >= F.floor((F.col("tot") + 1) / 2), F.col("d"))
        ).alias("lo"),
        F.min(
            F.when(F.col("c") >= F.floor(F.col("tot") / 2) + 1, F.col("d"))
        ).alias("hi"),
        F.any_value("tot").cast("long").alias("n_pairs"),
    )
    nn = pop.agg(
        F.count_if(F.col("variant") == "A").cast("long").alias("n_a"),
        F.count_if(F.col("variant") == "B").cast("long").alias("n_b"),
    )
    return med.crossJoin(F.broadcast(nn)).select(
        "n_a",
        "n_b",
        "n_pairs",
        (F.round((F.col("lo") + F.col("hi")) / 2.0 / 100.0, 4) + 0.0).alias(
            "hl_shift_usd"
        ),
    )


# ---------------------------------------------------------------------------
# Experiment-design arithmetic: required sample size for the observed
# effect (the question asked BEFORE the next test ships), and the
# per-quantile treatment effect (where in the distribution the arms
# differ — means hide tail effects).
# ---------------------------------------------------------------------------

Z_ALPHA_2 = 1.959963984540054  # Φ⁻¹(0.975), two-sided α = 0.05
AB_POWER_CONV_MIN = 300.0  # conversion = any purchase of at least $300
Z_POWER = 0.8416212335729143  # Φ⁻¹(0.80), power = 0.8


@query(
    "ab_power_analysis",
    oracle=f"""
WITH arms AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' AND value >= {AB_POWER_CONV_MIN}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), cells AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
  FROM arms GROUP BY 1
), wide AS (
  SELECT max(CASE WHEN variant = 'A' THEN n END) AS na,
         max(CASE WHEN variant = 'A' THEN c END) AS ca,
         max(CASE WHEN variant = 'B' THEN n END) AS nb,
         max(CASE WHEN variant = 'B' THEN c END) AS cb
  FROM cells
), est AS (
  SELECT na, ca, nb, cb,
         CAST(ca AS DOUBLE) / na AS pa, CAST(cb AS DOUBLE) / nb AS pb,
         CAST(ca + cb AS DOUBLE) / (na + nb) AS pp,
         abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) AS delta
  FROM wide
)
SELECT na AS n_a, nb AS n_b,
       round(pa, 6) + 0.0 AS p_a, round(pb, 6) + 0.0 AS p_b,
       round(delta, 6) + 0.0 AS abs_effect,
       round(delta / sqrt(nullif(pp * (1 - pp), 0) * (1.0 / na + 1.0 / nb)), 6) + 0.0
         AS observed_z,
       CAST(ceil(power({Z_ALPHA_2} * sqrt(2 * pp * (1 - pp))
                       + {Z_POWER} * sqrt(pa * (1 - pa) + pb * (1 - pb)), 2)
                 / nullif(delta * delta, 0)) AS BIGINT) AS required_n_per_arm
FROM est
""",
)
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion power arithmetic on the ab_test_report arms
    (deterministic md5 50/50, conversion = any purchase): observed
    rates, pooled-variance z, and the required per-arm sample size to
    detect the OBSERVED effect at α = 0.05 (two-sided) with power
    0.8 — n = (z_{{α/2}}·√(2p̄q̄) + z_{{β}}·√(p_a q_a + p_b q_b))²/δ².
    Counts are integers; every statistic is one double expression with
    the z constants as shared literals.

    Plan: one user-grain rollup (combinable), 2 cells, constant-space
    arithmetic."""
    arms = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= AB_POWER_CONV_MIN),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX, "A"
            )
            .otherwise("B")
            .alias("variant"),
            "conv",
        )
    )
    cells = arms.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("conv").cast("long").alias("c")
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("c"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("c"))).alias("cb"),
    )
    na, nb = F.col("na"), F.col("nb")
    pa = F.col("ca").cast("double") / na
    pb = F.col("cb").cast("double") / nb
    pp = (F.col("ca") + F.col("cb")).cast("double") / (na + nb)
    delta = F.abs(pa - pb)
    req = F.ceil(
        F.pow(
            Z_ALPHA_2 * F.sqrt(2 * pp * (1 - pp))
            + Z_POWER * F.sqrt(pa * (1 - pa) + pb * (1 - pb)),
            2,
        )
        / F.nullif(delta * delta, F.lit(0.0))
    ).cast("long")
    return wide.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(delta, 6).alias("abs_effect"),
        F.round(
            delta / F.sqrt(F.nullif(pp * (1 - pp), F.lit(0.0)) * (1.0 / na + 1.0 / nb)), 6
        ).alias("observed_z"),
        req.alias("required_n_per_arm"),
    )


QTE_QS = [round(0.1 * i, 1) for i in range(1, 10)]


@query(
    "quantile_treatment_effect",
    oracle=f"""
WITH t AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
  WHERE event_type = 'purchase'
), c AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
  WHERE event_type = 'view'
), qt AS (
  SELECT unnest(l) AS vt, generate_subscripts(l, 1) AS i
  FROM (SELECT quantile_cont(v, {QTE_QS}) AS l FROM t)
), qc AS (
  SELECT unnest(l) AS vc, generate_subscripts(l, 1) AS i
  FROM (SELECT quantile_cont(v, {QTE_QS}) AS l FROM c)
)
SELECT round(qt.i / 10.0, 1) + 0.0 AS quantile,
       round(vt / 100.0, 2) + 0.0 AS v_purchase,
       round(vc / 100.0, 2) + 0.0 AS v_view,
       round((vt - vc) / 100.0, 2) + 0.0 AS qte
FROM qt JOIN qc ON qt.i = qc.i
""",
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect: the purchase-vs-view value gap at
    each decile of the respective distributions (means hide tail
    effects; QTE shows WHERE the distributions differ). Exact
    interpolated percentiles over the cents-integer samples — both
    engines interpolate linearly at (n−1)·q from identical integer
    operands — differenced per decile and reported in dollars.

    Plan: two filtered single-pass percentile aggs (one per arm,
    pushed-down type filters), a 9×9 index equi-join of 1-row-derived
    relations."""
    ev = load_table(spark, sf_dir, "events")
    qarr = "array(" + ", ".join(f"{q}D" for q in QTE_QS) + ")"

    def decs(arm: str, out: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == arm)
            .select(F.round(F.col("value") * 100).cast("long").alias("v"))
            .agg(F.expr(f"percentile(v, {qarr})").alias("l"))
            .select(F.posexplode("l").alias("pos", out))
        )

    qt = decs("purchase", "vt")
    qc = decs("view", "vc")
    return qt.join(qc, "pos").select(
        F.round((F.col("pos") + 1) / 10.0, 1).alias("quantile"),
        F.round(F.col("vt") / 100.0, 2).alias("v_purchase"),
        F.round(F.col("vc") / 100.0, 2).alias("v_view"),
        F.round((F.col("vt") - F.col("vc")) / 100.0, 2).alias("qte"),
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald SPRT) monitor: ab_test_report
# and ab_power_analysis answer the FIXED-horizon questions; this is the
# anytime-valid daily monitor — per arm, the cumulative log-likelihood
# ratio of "purchase rate lifted 10% over the control benchmark"
# against the benchmark itself, with Wald's α=β=0.05 decision
# boundaries. The day a trajectory crosses ln 19 the experiment can
# stop early; the control arm doubles as the null calibration (its
# trajectory should drift to accept_h0/continue).
# ---------------------------------------------------------------------------

SPRT_LIFT_NUM, SPRT_LIFT_DEN = 11, 10  # H1: p1 = 1.1 · p0 (exact rational)
# e6 numerator of the lifted rate: p1_e6 = round(P1_SCALE_E6 · conv / n).
# Derived ONCE so plan, oracle and tests share the same hypothesis.
SPRT_P1_SCALE_E6 = SPRT_LIFT_NUM * 1000000 // SPRT_LIFT_DEN
SPRT_ALPHA_INV = 19  # α = β = 0.05 ⇒ boundaries ±ln((1−β)/α) = ±ln 19


def sprt_score(cum: DataFrame, hyp: DataFrame) -> DataFrame:
    """Attach ``llr`` and ``decision`` to a relation carrying integer
    ``cum_n``/``cum_conv`` columns, given the 1-row ``(p0_e6, p1_e6)``
    hypothesis relation (exact e6 rationals). THE SPRT scoring core —
    the registered ``sprt_ab_monitor`` and the streaming twin
    (streaming/pipeline.streaming_sprt_monitor) both call it, so a
    boundary or guard change cannot drift between the two."""
    llr = F.when(
        (F.col("p1_e6") < 1000000) & (F.col("p0_e6") > 0),
        F.col("cum_conv") * F.log(F.col("p1_e6").cast("double") / F.col("p0_e6"))
        + (F.col("cum_n") - F.col("cum_conv"))
        * F.log((1000000 - F.col("p1_e6")).cast("double") / (1000000 - F.col("p0_e6"))),
    )
    bound = F.log(F.lit(float(SPRT_ALPHA_INV)))
    return cum.crossJoin(F.broadcast(hyp)).withColumns(
        {
            "llr": F.round(llr, 6),
            "decision": F.when(llr >= bound, "reject_h0")
            .when(llr <= -bound, "accept_h0")
            .otherwise("continue"),
        }
    ).drop("p0_e6", "p1_e6")


@query(
    "sprt_ab_monitor",
    oracle=f"""
WITH pts AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(ts AS DATE) AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
), daily AS (
  SELECT arm, day, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS conv
  FROM pts GROUP BY 1, 2
), bench AS (
  SELECT CAST(sum(conv) AS BIGINT) AS bc, CAST(sum(n) AS BIGINT) AS bn
  FROM daily WHERE arm = 'A'
), hyp AS (
  SELECT (2 * 1000000 * bc + bn) // (2 * bn) AS p0_e6,
         (2 * {SPRT_P1_SCALE_E6} * bc + bn) // (2 * bn) AS p1_e6
  FROM bench
), cum AS (
  SELECT arm, day, n, conv,
         sum(n) OVER (PARTITION BY arm ORDER BY day) AS cum_n,
         sum(conv) OVER (PARTITION BY arm ORDER BY day) AS cum_conv
  FROM daily
), scored AS (
  SELECT c.arm, c.day, c.n, c.conv, c.cum_n, c.cum_conv,
         CASE WHEN h.p1_e6 < 1000000 AND h.p0_e6 > 0 THEN
           c.cum_conv * ln(CAST(h.p1_e6 AS DOUBLE) / h.p0_e6)
           + (c.cum_n - c.cum_conv)
             * ln(CAST(1000000 - h.p1_e6 AS DOUBLE) / (1000000 - h.p0_e6))
         END AS llr
  FROM cum c CROSS JOIN hyp h
)
SELECT arm, day, n, conv, CAST(cum_n AS BIGINT) AS cum_n,
       CAST(cum_conv AS BIGINT) AS cum_conv,
       round(llr, 6) + 0.0 AS llr,
       CASE WHEN llr >= ln({SPRT_ALPHA_INV}.0) THEN 'reject_h0'
            WHEN llr <= -ln({SPRT_ALPHA_INV}.0) THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM scored
""",
)
def sprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Wald SPRT trajectories per md5 arm: cumulative LLR of
    H1: p = 1.1·p0 vs H0: p = p0, where p0 is the control arm's
    full-period purchase rate. The hypotheses are exact integer e6
    rationals (half-away `div`, the repo's one rounding spelling), the
    LLR is two integer-scaled ln terms, and the ±ln 19 boundaries are
    the identical expression text in both engines — so day-level
    decisions cannot drift.

    Scale shape: one map-side-combinable (arm, day) aggregate; the
    benchmark is a 1-row broadcast; cumulative windows run per arm over
    the days-bounded relation."""
    pts = load_table(spark, sf_dir, "events").select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < AB_SPLIT_HEX, "A"
        )
        .otherwise("B")
        .alias("arm"),
        F.to_date("ts").alias("day"),
        (F.col("event_type") == "purchase").cast("long").alias("conv"),
    )
    daily = pts.groupBy("arm", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("conv"),
    )
    bench = daily.where(F.col("arm") == "A").agg(
        F.sum("conv").cast("long").alias("bc"), F.sum("n").cast("long").alias("bn")
    )
    hyp = bench.select(
        F.expr("(2 * 1000000 * bc + bn) div (2 * bn)").alias("p0_e6"),
        F.expr(f"(2 * {SPRT_P1_SCALE_E6} * bc + bn) div (2 * bn)").alias("p1_e6"),
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "arm",
        "day",
        "n",
        "conv",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("conv").over(w).alias("cum_conv"),
    )
    return sprt_score(
        cum.select(
            "arm",
            "day",
            "n",
            "conv",
            F.col("cum_n").cast("long").alias("cum_n"),
            F.col("cum_conv").cast("long").alias("cum_conv"),
        ),
        hyp,
    ).select("arm", "day", "n", "conv", "cum_n", "cum_conv", "llr", "decision")
