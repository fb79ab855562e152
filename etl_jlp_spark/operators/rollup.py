"""Incremental materialized-rollup maintenance.

The reference recomputes its reports from scratch every run (pandas
over the full extract — dwh_lab/dwh/Quality_report_*.py re-read whole
tables). At 100 TB a daily (day, event_type) rollup of an append-mostly
event stream must instead be MAINTAINED: the historical rollup is
materialized once, and each refresh

1. scans ONLY the delta (raw int64 nano predicate → parquet
   PushedFilters / row-group skipping, same trick as
   ``ingest_incremental_watermark``),
2. aggregates it (map-side partial agg; delta-sized shuffle),
3. merges with the stored rollup by re-aggregating the UNION of the
   two rollup-sized relations — never the raw history.

The merge-by-union-groupBy handles late/overlapping days for free (a
partial for the same (day, type) from both sides just sums); with a
midnight-aligned cutoff the day partitions are disjoint, so a
partition-pruned rewrite would touch only delta days. The store is
content+algo-keyed and day-partitioned, one of the persisted stores
``etl_jlp_spark.stores`` names and publishes.

Oracle = one full GROUP BY over all of events: the driver's hash match
proves store + delta == scratch recompute.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark import stores
from etl_jlp_spark.catalog import read_parquet, table_path
from etl_jlp_spark.registry import query

ROLLUP_DELTA_DAYS = 7  # the "arriving" window: last N days are the delta

_DAY_NS = 86_400 * 1_000_000_000


def _cutoff_pred(df: DataFrame, cutoff_ns: int, op: str):
    """ts-vs-cutoff predicate ON THE STORED COLUMN — a raw int64 nano
    compare or a timestamp-literal compare depending on how the file
    was written. Both forms are plain column-vs-literal, so both reach
    the parquet scan as PushedFilters (row-group skipping); wrapping
    ts in unix_micros() would silently disable that."""
    from datetime import datetime, timezone

    col = F.col("ts")
    if dict(df.dtypes).get("ts") == "bigint":
        lit = F.lit(cutoff_ns)
    else:
        lit = F.lit(
            datetime.fromtimestamp(cutoff_ns / 1e9, tz=timezone.utc).replace(tzinfo=None)
        )
    return (col < lit) if op == "<" else (col >= lit)


def _raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts still the RAW int64 nano column (filter-pushable);
    callers convert after filtering."""
    return read_parquet(spark, table_path(sf_dir, "events"))


def _with_day(df: DataFrame) -> DataFrame:
    ts = (
        F.expr("timestamp_micros(ts div 1000)")
        if dict(df.dtypes).get("ts") == "bigint"
        else F.col("ts")
    )
    return df.withColumn("day", F.to_date(ts))


def _day_rollup(df: DataFrame) -> DataFrame:
    return df.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("sum_value"),  # raw sum; rounding only at output
    )


ROLLUP_STORE = stores.Family(
    "rollup", ("events",), "events", f"rollup-v1-{ROLLUP_DELTA_DAYS}", marker="agg/_SUCCESS"
)


def _cutoff_nanos(spark: SparkSession, sf_dir: str) -> int:
    """Midnight (UTC) nano timestamp of (max event day − N days): one
    scalar agg on the raw column — min/max come straight from parquet
    footer stats, no full scan materialization."""
    raw = _raw_events(spark, sf_dir)
    if dict(raw.dtypes).get("ts") == "bigint":
        mx = raw.agg(F.max("ts")).collect()[0][0]
        mx_ns = int(mx)
    else:
        mx = raw.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        mx_ns = int(mx) * 1_000
    return (mx_ns // _DAY_NS - ROLLUP_DELTA_DAYS) * _DAY_NS


def ensure_rollup_store(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Materialize the historical (day < cutoff) rollup once; returns
    (store path, cutoff nanos). Day-partitioned so an upsert refresh
    rewrites only touched day directories; the cutoff rides along as a
    ``cutoff.txt`` sidecar next to the ``agg`` data."""
    (final,) = ROLLUP_STORE.paths(sf_dir)
    marker = os.path.join(final, "cutoff.txt")
    if not (ROLLUP_STORE.built(final) and os.path.exists(marker)):
        cutoff = _cutoff_nanos(spark, sf_dir)
        raw = _raw_events(spark, sf_dir)
        hist = raw.filter(_cutoff_pred(raw, cutoff, "<"))

        def write(tmp: str) -> None:
            _day_rollup(_with_day(hist)).write.mode("overwrite").partitionBy("day").parquet(
                os.path.join(tmp, "agg")
            )
            with open(os.path.join(tmp, "cutoff.txt"), "w") as fh:
                fh.write(str(cutoff))

        stores.publish(final, write)
    with open(marker) as fh:
        return final, int(fh.read().strip())


@query(
    "rollup_incremental",
    oracle="""
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refreshed daily rollup: persisted history + delta-only scan,
    merged by union + re-aggregate. Equals (and is hash-checked
    against) the from-scratch GROUP BY, while touching only
    ``ROLLUP_DELTA_DAYS`` days of raw data per refresh."""
    store, cutoff = ensure_rollup_store(spark, sf_dir)
    hist = read_parquet(spark, os.path.join(store, "agg")).select(
        F.col("day").cast("date").alias("day"), "event_type", "n_events", "sum_value"
    )
    raw = _raw_events(spark, sf_dir)
    delta = raw.filter(_cutoff_pred(raw, cutoff, ">="))
    merged = hist.unionByName(_day_rollup(_with_day(delta)))
    return (
        merged.groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )
    )
