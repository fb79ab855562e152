"""Incremental maintenance of a JOINED materialized view.

``rollup_incremental`` (operators/rollup.py) maintains a single-table
rollup; real marts maintain views with a JOIN in them — here the
monthly revenue by order priority, which needs lineitem ⋈ orders. The
naive refresh re-joins 100 TB of facts every run. The incremental
refresh:

1. scans only delta lineitems (``l_shipdate >= cutoff`` — a plain
   column-vs-literal predicate, so it reaches the parquet scan as a
   PushedFilter / row-group skip),
2. joins ONLY the delta to orders (delta-sized shuffle on o_orderkey;
   at 100 TB the orders side is pruned by the same join key via
   DPP/bucketing — test_bucketing.py shows the bucketed form),
3. merges with the persisted base MV by union + re-aggregate over two
   MV-sized relations (months × priorities rows — tiny).

Key MV-maintenance property: the view's aggregates (count, sum) are
self-maintainable for inserts — no base-fact re-read. The oracle is
the from-scratch join+GROUP BY, so the driver's hash match proves
store + delta-join == full recompute.

Reference tie-in: dwh_lab recomputes every mart from scratch per DAG
run (dwh/Quality_report_*.py, full re-extracts); this is the
maintenance layer such a mart needs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark import stores
from etl_jlp_spark.catalog import load_table, read_parquet
from etl_jlp_spark.registry import query

# Fixed refresh horizon: lineitems shipped on/after this date are "the
# delta" (TPC-H ship dates end 1998-12-01, so this is a real tail).
MV_CUTOFF = "1998-06-01"


def _mv_agg(joined: DataFrame) -> DataFrame:
    # Exact integer arithmetic (1e-4 dollar units): prices carry 2dp and
    # discounts are whole percents, so the revenue partials are exact
    # longs — base + delta merges can never hit a float half-cent
    # boundary differently than the from-scratch oracle (same trick as
    # cohort_ltv's exact-long LTV).
    rev_e4 = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    return joined.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(rev_e4).cast("long").alias("revenue_e4"),
    )


def _join(li: DataFrame, orders: DataFrame) -> DataFrame:
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


MV_STORE = stores.Family("mv", ("priority_revenue",), "lineitem", f"mvjoin-v2-{MV_CUTOFF}")


def ensure_mv_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the base MV (shipped before MV_CUTOFF) once."""
    (final,) = MV_STORE.paths(sf_dir)
    if MV_STORE.built(final):
        return final
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit(MV_CUTOFF).cast("date")
    )
    orders = load_table(spark, sf_dir, "orders")
    stores.publish(final, _mv_agg(_join(li, orders)).write.mode("overwrite").parquet)
    return final


@query(
    "mv_join_incremental",
    oracle=f"""
SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
       o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       ((sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) + 50) // 100)
         / 100.0 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def mv_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refreshed (month, priority) revenue MV: persisted base +
    delta-only join, merged by union + re-aggregate. Equals (and is
    hash-checked against) the from-scratch lineitem ⋈ orders GROUP BY,
    while re-joining only lineitems shipped on/after MV_CUTOFF."""
    store = ensure_mv_store(spark, sf_dir)
    base = read_parquet(spark, store)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit(MV_CUTOFF).cast("date")
    )
    orders = load_table(spark, sf_dir, "orders")
    delta = _mv_agg(_join(li, orders))
    return (
        base.unionByName(delta)
        .groupBy("month", "o_orderpriority")
        .agg(
            F.sum("n_items").cast("long").alias("n_items"),
            # half-up to cents in EXACT integer space (revenue ≥ 0), then
            # one exact decimal division — no float tie for either engine
            (F.expr("(sum(revenue_e4) + 50) div 100") / 100.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Delete-aware incremental MV refresh (retraction algebra):
# mv_join_incremental (above) handles APPENDS; real CDC feeds also
# retract. For the distributive aggregates (count, sum) the refresh is
# pure algebra — union the MV with the NEGATED contribution of the
# retracted rows and re-aggregate — so a billion-row MV absorbs a
# thousand deletes by touching MV-sized relations only, never
# rebuilding from the fact table. Groups whose count reaches zero
# disappear (the invariant that keeps refreshed ≡ recomputed).
# ---------------------------------------------------------------------------

RETRACT_MOD = 37  # deterministic synthetic delete set: event_id % 37 = 0


@query(
    "mv_retraction_refresh",
    oracle=f"""
SELECT CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CAST(round(value * 10000) AS BIGINT)) / 10000.0, 4) AS sum_value
FROM events
WHERE event_id % {RETRACT_MOD} <> 0
GROUP BY 1
""",
)
def mv_retraction_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily (count, sum) MV maintained under DELETES by retraction
    algebra: the full MV plus the retracted rows' NEGATED partials,
    re-aggregated, groups at count 0 dropped. The ORACLE recomputes
    from scratch over the post-delete fact table — the driver's hash
    match IS the proof that incremental-with-retraction ≡ rebuild
    (same exactness strategy as mv_join_incremental: e4-scaled integer
    value partials, so base and delta can never round apart).

    Plan: one pass builds the base MV, one DELETE-filtered pass builds
    the days-bounded negative delta (at 100 TB the delta pass scans
    the CDC batch, not the fact table — here both derive from the same
    parquet for oracle-checkability); merge = union + re-agg of two
    MV-sized relations."""
    ev = load_table(spark, sf_dir, "events")
    e4 = F.round(F.col("value") * 10000).cast("long")
    base = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(e4).cast("long").alias("v4"),
    )
    deletes = ev.filter(F.col("event_id") % RETRACT_MOD == 0)
    delta = deletes.groupBy(F.to_date("ts").alias("day")).agg(
        (-F.count(F.lit(1))).cast("long").alias("n"),
        (-F.sum(e4)).cast("long").alias("v4"),
    )
    refreshed = (
        base.unionByName(delta)
        .groupBy("day")
        .agg(F.sum("n").cast("long").alias("n"), F.sum("v4").cast("long").alias("v4"))
        .filter(F.col("n") > 0)
    )
    return refreshed.select(
        "day",
        F.col("n").alias("n_events"),
        F.round(F.col("v4") / 10000.0, 4).alias("sum_value"),
    )
