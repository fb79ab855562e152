"""Streaming materialized-rollup maintenance: an exactly-once upsert
sink with compaction — the streaming twin of
``operators.rollup.rollup_incremental``.

A naive ``foreachBatch`` "read store, merge, overwrite store" is NOT
exactly-once: replaying a crashed batch re-merges rows the store
already absorbed (double counting), and a crash mid-overwrite corrupts
the store. This module uses the minimal lakehouse commit protocol
instead:

- **delta log**: each micro-batch writes its (day, event_type) partial
  aggregate to ``deltas/batch_id=N`` through the pipeline's idempotent
  per-batch write (``streaming.pipeline``), never touching other
  batches' data.
- **serving view**: compacted base ∪ unfolded deltas, re-aggregated —
  always rollup-sized relations, never raw events.
- **compaction**: folds deltas into a NEW versioned base directory,
  then atomically swaps a pointer file (``stores.write_pointer``)
  recording the base version and the highest folded batch id. A crash
  before the swap leaves the old pointer valid (old base + deltas still
  serve the correct view); after the swap, folded delta dirs are
  garbage and are swept. Replays of batches at or below the folded watermark are
  dropped by the sink — the pointer IS the dedup state, so an
  unreadable pointer raises instead of reading as an empty store.

Nothing here is driver-looped per row; every step is a Spark plan over
rollup-sized data.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_jlp_spark.catalog import read_parquet
from etl_jlp_spark.operators.rollup import _day_rollup, _with_day
from etl_jlp_spark.stores import read_pointer, write_pointer
from etl_jlp_spark.streaming.pipeline import (
    batch_ids,
    launch,
    stream_events,
    write_batch_idempotent,
)

_POINTER = "_POINTER.json"


def _pointer(store_dir: str) -> dict:
    return read_pointer(os.path.join(store_dir, _POINTER), {"base": None, "through_batch": -1})


def rollup_upsert_batch(batch_df: DataFrame, store_dir: str, batch_id: int) -> None:
    """``foreachBatch`` handler: append this batch's partial rollup to
    the delta log. Idempotent under replay; no-op for batches already
    folded by compaction."""
    if int(batch_id) <= _pointer(store_dir)["through_batch"]:
        return
    write_batch_idempotent(
        _day_rollup(_with_day(batch_df)), os.path.join(store_dir, "deltas"), batch_id
    )


def rollup_view(spark: SparkSession, store_dir: str) -> DataFrame:
    """The serving rollup: base ∪ unfolded deltas, re-aggregated.
    Raw (unrounded) sums — round at the edge, not in storage, so
    repeated folds can't compound rounding error."""
    ptr = _pointer(store_dir)
    parts: list[DataFrame] = []
    if ptr["base"]:
        parts.append(read_parquet(spark, os.path.join(store_dir, "base", ptr["base"])))
    deltas = os.path.join(store_dir, "deltas")
    unfolded = [b for b in batch_ids(deltas) if b > ptr["through_batch"]]
    if unfolded:
        parts.append(
            read_parquet(spark, deltas)
            .filter(F.col("batch_id").isin(unfolded))
            .drop("batch_id")
        )
    if not parts:
        raise FileNotFoundError(f"empty rollup store: {store_dir}")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("day", "event_type").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


def compact_rollup(spark: SparkSession, store_dir: str, retain: bool = False) -> int:
    """Fold all deltas into a new base version and advance the pointer.
    Returns the new folded-through batch id. Crash-safe at every step:
    the new base is written to a fresh ``base/v{N}`` dir BEFORE the
    pointer swap, and cleanup happens only AFTER it.

    ``retain=True`` is the Delta-Lake-style retention split: folded
    deltas and superseded base versions are KEPT so ``rollup_view_as_of``
    can reconstruct any historical batch watermark; reclaiming the
    space becomes an explicit, separately-scheduled ``vacuum_rollup``
    (exactly VACUUM vs time travel). The default sweeps immediately —
    serving-only stores shouldn't pay history storage."""
    ids = batch_ids(os.path.join(store_dir, "deltas"))
    ptr = _pointer(store_dir)
    if not ids or max(ids) <= ptr["through_batch"]:
        return ptr["through_batch"]
    through = max(ids)
    version = f"v{through}"
    rollup_view(spark, store_dir).write.mode("overwrite").parquet(
        os.path.join(store_dir, "base", version)
    )
    write_pointer(os.path.join(store_dir, _POINTER), {"base": version, "through_batch": through})
    if not retain:
        for b in ids:  # folded deltas are garbage after the swap
            shutil.rmtree(
                os.path.join(store_dir, "deltas", f"batch_id={b}"), ignore_errors=True
            )
        old = ptr["base"]
        if old and old != version:
            shutil.rmtree(os.path.join(store_dir, "base", old), ignore_errors=True)
    return through


def _base_versions(store_dir: str) -> list[int]:
    base = os.path.join(store_dir, "base")
    if not os.path.isdir(base):
        return []
    return sorted(int(d[1:]) for d in os.listdir(base) if d.startswith("v"))


def rollup_view_as_of(
    spark: SparkSession, store_dir: str, through_batch: int
) -> DataFrame:
    """Time travel: the rollup as it stood after ``through_batch`` —
    the newest retained base version ≤ the watermark plus the retained
    deltas in between, re-aggregated (same plan shape as the serving
    view; never raw events). Requires the history to still be retained
    (``compact_rollup(retain=True)`` and no intervening
    ``vacuum_rollup``); a vacuumed watermark raises loudly rather than
    serving a silently-partial rollup."""
    through = int(through_batch)
    bases = [v for v in _base_versions(store_dir) if v <= through]
    base_v = max(bases) if bases else None
    # explicit None check: base v0 is a real version (0 is falsy, so
    # `base_v or -1` would re-apply delta 0 on top of v0 — double count)
    floor = -1 if base_v is None else base_v
    deltas = [b for b in batch_ids(os.path.join(store_dir, "deltas")) if floor < b <= through]
    if base_v is None and _pointer(store_dir)["through_batch"] > through and not deltas:
        raise ValueError(
            f"history before batch {through} was vacuumed from {store_dir}; "
            "compact with retain=True to keep time travel"
        )
    parts: list[DataFrame] = []
    if base_v is not None:
        parts.append(read_parquet(spark, os.path.join(store_dir, "base", f"v{base_v}")))
    if deltas:
        parts.append(
            read_parquet(spark, os.path.join(store_dir, "deltas"))
            .filter(F.col("batch_id").isin(deltas))
            .drop("batch_id")
        )
    if not parts:
        raise FileNotFoundError(f"no retained state at or before batch {through}: {store_dir}")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("day", "event_type").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


def vacuum_rollup(store_dir: str) -> int:
    """Reclaim history: sweep folded deltas (≤ the pointer watermark)
    and superseded base versions. Returns the number of directories
    removed. The current pointer's (base, unfolded deltas) are never
    touched — the serving view is identical before and after."""
    ptr = _pointer(store_dir)
    removed = 0
    for b in batch_ids(os.path.join(store_dir, "deltas")):
        if b <= ptr["through_batch"]:
            shutil.rmtree(
                os.path.join(store_dir, "deltas", f"batch_id={b}"), ignore_errors=True
            )
            removed += 1
    current = int(ptr["base"][1:]) if ptr["base"] else None
    for v in _base_versions(store_dir):
        if current is None or v != current:
            shutil.rmtree(os.path.join(store_dir, "base", f"v{v}"), ignore_errors=True)
            removed += 1
    return removed


def streaming_rollup_maintain(
    spark: SparkSession, src_dir: str, store_dir: str, checkpoint_dir: str
):
    """Wire a file-source event stream into the upsert sink with
    ``trigger(availableNow=True)`` — the scheduled catch-up run. The
    checkpoint gives at-least-once delivery of batches; the delta-log
    protocol upgrades the STORE to exactly-once."""
    os.makedirs(store_dir, exist_ok=True)
    return launch(
        stream_events(spark, src_dir),
        checkpoint_dir,
        lambda batch_df, batch_id: rollup_upsert_batch(batch_df, store_dir, batch_id),
    )
