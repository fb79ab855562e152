"""Distribution-drift monitoring: Population Stability Index.

The reference's QualityReport (dwh_lab/dwh/quality_report.py) checks
each batch in ISOLATION — nulls, formats, duplicates. Production
pipelines also need the cross-batch question: *has the data's
distribution moved since the reference window?* PSI is the standard
answer (credit-scoring lineage, now the default drift metric in ML
monitoring): bucket the feature, compare bucket shares p (current) vs
q (reference), PSI = Σ (p−q)·ln(p/q). Rule of thumb: <0.1 stable,
0.1–0.25 drifting, >0.25 action.

Implementation: ONE pass over events — every row is labeled
(bucket, is_reference) and counted in a single conditional aggregate;
the per-type totals join back on the (tiny) event_type key. Bucket
edges reuse ``operators.joins.VALUE_BANDS`` so the band vocabulary is
shared across the repo. Laplace smoothing (+0.5 per bucket) keeps
empty buckets finite AND deterministic — no epsilon tuning, identical
algebra in both engines. The reference window is the first 21 days of
the stream (scalar min-date, broadcast 1-row join); everything after
is "current"."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.operators.joins import VALUE_BANDS
from etl_jlp_spark.registry import query

PSI_REF_DAYS = 21  # reference window: first N days of the stream
_N_BUCKETS = len(VALUE_BANDS) + 1  # + 'other' fallback

_BUCKET_SQL = (
    "CASE "
    + " ".join(
        f"WHEN value >= {lo} AND value < {hi} THEN '{name}'"
        for name, lo, hi in VALUE_BANDS
    )
    + " ELSE 'other' END"
)


@query(
    "psi_drift_report",
    oracle=f"""
WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
lab AS (
  SELECT event_type,
         {_BUCKET_SQL} AS bucket,
         CAST(ts AS DATE) < d0 + {PSI_REF_DAYS} AS is_ref
  FROM events CROSS JOIN span
), c AS (
  SELECT event_type, bucket,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS DOUBLE) AS n_ref,
         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS DOUBLE) AS n_cur
  FROM lab GROUP BY 1, 2
), t AS (
  SELECT event_type, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM c GROUP BY 1
)
SELECT c.event_type,
       round(sum(
         ((c.n_cur + 0.5) / (t.t_cur + {0.5 * _N_BUCKETS})
          - (c.n_ref + 0.5) / (t.t_ref + {0.5 * _N_BUCKETS}))
         * ln(((c.n_cur + 0.5) / (t.t_cur + {0.5 * _N_BUCKETS}))
              / ((c.n_ref + 0.5) / (t.t_ref + {0.5 * _N_BUCKETS})))
       ), 4) AS psi,
       CAST(sum(c.n_ref) AS BIGINT) AS n_ref,
       CAST(sum(c.n_cur) AS BIGINT) AS n_cur
FROM c JOIN t USING (event_type)
GROUP BY c.event_type
""",
)
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI of the value distribution: reference = first
    ``PSI_REF_DAYS`` days, current = the rest. One combinable aggregate
    over raw events; everything downstream is bucket-vocabulary-sized."""
    events = load_table(spark, sf_dir, "events")
    d0 = events.agg(F.min(F.to_date("ts")).alias("d0"))  # 1 row → broadcast
    bucket = F.expr(_BUCKET_SQL)
    lab = events.crossJoin(F.broadcast(d0)).select(
        "event_type",
        bucket.alias("bucket"),
        (F.to_date("ts") < F.date_add("d0", PSI_REF_DAYS)).alias("is_ref"),
    )
    c = lab.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("double").alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).cast("double").alias("n_cur"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    s = F.lit(0.5 * _N_BUCKETS)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + s)
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + s)
    return (
        c.join(F.broadcast(t), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 4).alias("psi"),
            F.sum("n_ref").cast("long").alias("n_ref"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )


def bucket_counts(events: DataFrame) -> DataFrame:
    """(event_type, bucket, n) — the sufficient statistic PSI needs;
    mergeable across batches (plain sums)."""
    return events.groupBy(
        "event_type", F.expr(_BUCKET_SQL).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))


def psi_against_reference(batch_counts: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """PSI of a batch's bucket counts vs a fixed reference — the
    serving-time half of ``psi_drift_report``. Full-outer on the bucket
    grid so buckets present on only one side still contribute their
    (smoothed) term; output one row per event_type."""
    b = batch_counts.withColumnsRenamed({"n": "n_cur"})
    r = ref_counts.withColumnsRenamed({"n": "n_ref"})
    c = (
        b.join(r, ["event_type", "bucket"], "full_outer")
        .fillna({"n_cur": 0.0, "n_ref": 0.0})
    )
    t = c.groupBy("event_type").agg(
        F.sum("n_cur").alias("t_cur"), F.sum("n_ref").alias("t_ref")
    )
    s = F.lit(0.5 * _N_BUCKETS)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + s)
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + s)
    return (
        c.join(F.broadcast(t), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 4).alias("psi"),
            F.sum("n_cur").cast("long").alias("n_cur"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov: the nonparametric complement to PSI.
# PSI sees only bucket shares (coarse, vocabulary-bounded); KS compares
# the FULL empirical CDFs — it catches a mean shift inside one bucket
# that PSI smooths away. Computation: per (event_type, value) counts,
# cumulative sums ordered by value give both ECDFs in one window pass,
# KS = max |F_ref − F_cur| over the jump points. The asymptotic
# Kolmogorov p-value uses the first {_KS_TERMS} series terms —
# convergence is geometric, so the tail beyond that is < 1e-12 for any
# λ the test can produce.
# ---------------------------------------------------------------------------

_KS_TERMS = 5


def _ks_p_terms(lam: str) -> str:
    """Σ (-1)^(k-1) exp(-2 k² λ²) — identical text both engines."""
    return " + ".join(
        f"({(-1) ** (k - 1)}) * exp(-2.0 * {k * k} * {lam} * {lam})"
        for k in range(1, _KS_TERMS + 1)
    )


@query(
    "ks_drift_report",
    oracle=f"""
WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
lab AS (
  SELECT event_type, value,
         CAST(ts AS DATE) < d0 + {PSI_REF_DAYS} AS is_ref
  FROM events CROSS JOIN span
), g AS (
  SELECT event_type, value,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
         sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS c_cur
  FROM lab GROUP BY 1, 2
), cum AS (
  SELECT event_type,
         sum(c_ref) OVER w AS cum_ref, sum(c_cur) OVER w AS cum_cur,
         sum(c_ref) OVER t AS n_ref, sum(c_cur) OVER t AS n_cur
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         t AS (PARTITION BY event_type)
), ks AS (
  SELECT event_type,
         CAST(any_value(n_ref) AS BIGINT) AS n_ref,
         CAST(any_value(n_cur) AS BIGINT) AS n_cur,
         max(abs(CAST(cum_ref AS DOUBLE) / n_ref
                 - CAST(cum_cur AS DOUBLE) / n_cur)) AS d
  FROM cum GROUP BY event_type
), lamt AS (
  SELECT event_type, n_ref, n_cur, d,
         (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d AS lam
  FROM (SELECT *, CAST(n_ref AS DOUBLE) * n_cur / (n_ref + n_cur) AS ne FROM ks)
)
SELECT event_type, n_ref, n_cur, round(d, 6) AS ks_stat,
       round(greatest(0.0, least(1.0, 2.0 * ({_ks_p_terms("lam")}))), 6) + 0.0
         AS p_value,
       2.0 * ({_ks_p_terms("lam")}) < 0.05 AS drifted
FROM lamt
""",
)
def ks_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type two-sample KS test of the value distribution:
    reference window = first ``PSI_REF_DAYS`` days, current = the rest.

    Plan: one scan labels rows, a (event_type, value) pre-aggregate
    collapses ties BEFORE the window sort (the window then ranks
    distinct values, not raw rows), one window pass produces both
    ECDFs, and a final 5-row agg takes the sup. The per-type sort is
    the honest cost of an exact KS; the 100 TB variant runs the same
    algebra on quantile-bucketed values (ECDF on ~1e4 bin edges,
    identical downstream), trading sup exactness for a bounded sort —
    PSI above is that coarse fast path."""
    events = load_table(spark, sf_dir, "events")
    d0 = events.agg(F.min(F.to_date("ts")).alias("d0"))
    lab = events.crossJoin(F.broadcast(d0)).select(
        "event_type",
        "value",
        (F.to_date("ts") < F.date_add("d0", PSI_REF_DAYS)).alias("is_ref"),
    )
    g = lab.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c_cur"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        F.sum("c_ref").over(w).alias("cum_ref"),
        F.sum("c_cur").over(w).alias("cum_cur"),
        F.sum("c_ref").over(t).alias("n_ref"),
        F.sum("c_cur").over(t).alias("n_cur"),
    )
    ks = cum.groupBy("event_type").agg(
        F.any_value("n_ref").cast("long").alias("n_ref"),
        F.any_value("n_cur").cast("long").alias("n_cur"),
        F.max(
            F.abs(
                F.col("cum_ref").cast("double") / F.col("n_ref")
                - F.col("cum_cur").cast("double") / F.col("n_cur")
            )
        ).alias("d"),
    )
    ne = F.col("n_ref").cast("double") * F.col("n_cur") / (F.col("n_ref") + F.col("n_cur"))
    lam = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * F.col("d")
    series = sum(
        ((-1) ** (k - 1)) * F.exp(-2.0 * (k * k) * lam * lam)
        for k in range(1, _KS_TERMS + 1)
    )
    p = 2.0 * series
    return ks.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round("d", 6).alias("ks_stat"),
        (F.round(F.greatest(F.lit(0.0), F.least(F.lit(1.0), p)), 6) + 0.0).alias("p_value"),
        (p < 0.05).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit: fabricated or systematically-generated
# monetary data departs from the log-uniform first-digit law; the
# chi-square distance is the fraud/ETL-defect tripwire auditors run
# over financial fact tables. First digit extracted via STRING ops on
# the truncated integer part — never floor(log10(x)), whose float
# misround at exact powers of ten would misbucket 1000.00.
# ---------------------------------------------------------------------------

_BENFORD_P = {
    d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
}
_BENFORD_CASE = (
    "CAST(CASE digit "
    + " ".join(f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items())
    + " END AS DOUBLE)"
)


@query(
    "benford_digit_report",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM lineitem WHERE l_extendedprice >= 1.0
), c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
), t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
SELECT c.digit, c.n,
       round(c.n / t.total, 6) AS share,
       round({_BENFORD_CASE.replace("digit", "c.digit")}, 6) AS benford_share,
       round(c.n / t.total - {_BENFORD_CASE.replace("digit", "c.digit")}, 6) + 0.0
         AS deviation,
       round(sum(power(c.n - t.total * ({_BENFORD_CASE.replace("digit", "c.digit")}), 2)
                 / (t.total * ({_BENFORD_CASE.replace("digit", "c.digit")})))
             OVER (), 4) AS chi2_total
FROM c CROSS JOIN t
""",
)
def benford_digit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of l_extendedprice vs
    Benford's law: per-digit observed/expected share and deviation,
    plus the table-level chi-square statistic (repeated on each of the
    9 rows so the report stays one relation).

    Plan: digit extraction is a scan-side string projection, the
    distribution is one 9-group aggregate, and the total/chi-square
    ride a broadcast 1-row side + a 9-row window — nothing after the
    first aggregate scales with the fact table."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1.0)
    digits = li.select(
        F.substring(
            F.floor("l_extendedprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    from pyspark.sql import Window

    exp_share = F.expr(_BENFORD_CASE)
    wall = Window.partitionBy()
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(exp_share, 6).alias("benford_share"),
            (F.round(F.col("n") / F.col("total") - exp_share, 6) + 0.0).alias("deviation"),
            F.round(
                F.sum(
                    F.pow(F.col("n") - F.col("total") * exp_share, 2)
                    / (F.col("total") * exp_share)
                ).over(wall),
                4,
            ).alias("chi2_total"),
        )
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR gate over the per-type KS drift p-values —
# the multiple-testing hygiene ks_drift_report leaves to the reader:
# with one test per event type, raw p < 0.05 inflates false alarms;
# BH controls the false-discovery rate across the family.
# ---------------------------------------------------------------------------

FDR_Q = 0.10  # target false-discovery rate


def _fdr_oracle() -> str:
    from etl_jlp_spark.registry import ORACLES

    ks = ORACLES["ks_drift_report"]
    return f"""
WITH ks_rel AS MATERIALIZED ({ks}),
ranked AS (
  SELECT event_type, p_value,
         CAST(row_number() OVER (ORDER BY p_value, event_type) AS BIGINT) AS bh_rank,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM ks_rel
), kstar AS (
  SELECT coalesce(max(bh_rank) FILTER (
           WHERE p_value <= bh_rank * {FDR_Q} / m), 0) AS k
  FROM ranked
)
SELECT event_type, p_value, bh_rank,
       round(bh_rank * {FDR_Q} / m, 6) + 0.0 AS bh_threshold,
       bh_rank <= kstar.k AS rejected
FROM ranked CROSS JOIN kstar
"""


@query("fdr_drift_gate", oracle=_fdr_oracle())
def fdr_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg step-up over the ks_drift_report p-values at
    q = {Q}: rank the m per-type p-values ascending (ties → type
    name), find k* = max{{k : p_(k) ≤ k·q/m}}, and reject H0 (declare
    drift) for every rank ≤ k*. The p-values are the REGISTERED
    operator's own 6dp-rounded outputs, so both engines rank and
    compare identical doubles; ranks and k* are integers.

    Plan: the KS relation is ≤ |event_types| rows — everything here
    is constant-space window arithmetic on top of the one fact pass
    ks_drift_report already makes."""
    from etl_jlp_spark.quality.drift import ks_drift_report  # self-module registered op

    ks = ks_drift_report(spark, sf_dir).select("event_type", "p_value")
    w = Window.orderBy("p_value", "event_type")
    ranked = ks.select(
        "event_type",
        "p_value",
        F.row_number().over(w).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    ).localCheckpoint(eager=True)  # ≤ |types| rows, consumed twice (k* + output)
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") <= F.col("bh_rank") * FDR_Q / F.col("m"),
                    F.col("bh_rank"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        "p_value",
        "bh_rank",
        F.round(F.col("bh_rank") * FDR_Q / F.col("m"), 6).alias("bh_threshold"),
        (F.col("bh_rank") <= F.col("k")).alias("rejected"),
    )


fdr_drift_gate.__doc__ = (fdr_drift_gate.__doc__ or "").format(Q=FDR_Q)
