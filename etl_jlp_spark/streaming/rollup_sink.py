"""Streaming materialized-rollup maintenance — the streaming twin of
``operators.rollup.rollup_incremental``: a ``streaming.store`` of
per-batch (day, event_type) partial rollups, merged by summing. Its
view is always a union of rollup-sized relations, re-aggregated, never
raw events; its sums are raw (unrounded) — round at the edge, not in
storage, so repeated folds can't compound rounding error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from etl_jlp_spark.operators.rollup import _day_rollup, _with_day
from etl_jlp_spark.streaming import store
from etl_jlp_spark.streaming.pipeline import sink_store, stream_events

rollup_merge = store.summed(("day", "event_type"), ("n_events", "sum_value"))


def rollup_partial(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's partial rollup."""
    return _day_rollup(_with_day(batch_df))


def streaming_rollup_maintain(
    spark: SparkSession, src_dir: str, store_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Wire a file-source event stream into the rollup store with
    ``trigger(availableNow=True)`` — the scheduled catch-up run. The
    checkpoint gives at-least-once delivery of batches; the store
    upgrades the rollup to exactly-once."""
    return sink_store(stream_events(spark, src_dir), rollup_partial, store_dir, checkpoint_dir)


def rollup_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """The serving rollup: base ∪ unfolded deltas, re-aggregated."""
    return store.view(spark, store_dir, rollup_merge)


def compact_rollup(spark: SparkSession, store_dir: str, retain: bool = False) -> int:
    """Fold the rollup's deltas into a new base (``store.compact``)."""
    return store.compact(spark, store_dir, rollup_merge, retain)
