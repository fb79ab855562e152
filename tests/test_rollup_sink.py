"""Streaming rollup-upsert sink: exactly-once under replay, compaction
correctness, and pointer-based dedup of folded batches."""

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.streaming.rollup_sink import (
    compact_rollup,
    rollup_upsert_batch,
    rollup_view,
    streaming_rollup_maintain,
)


def _expected(spark):
    return {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in (
            load_table(spark, SF_SMALL, "events")
            .groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .collect()
        )
    }


def _got(spark, store):
    return {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in rollup_view(spark, store).collect()
    }


def _halves(spark):
    ev = load_table(spark, SF_SMALL, "events")
    return (
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
    )


def test_stream_maintains_rollup(spark, tmp_path):
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    a, b = _halves(spark)
    a.coalesce(1).write.mode("overwrite").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)
    q = streaming_rollup_maintain(spark, src, store, ckpt)
    q.awaitTermination(120)
    assert _got(spark, store) == _expected(spark)
    # restart on the same checkpoint: nothing reprocessed, view unchanged
    q2 = streaming_rollup_maintain(spark, src, store, ckpt)
    q2.awaitTermination(120)
    assert _got(spark, store) == _expected(spark)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    rollup_upsert_batch(a, store, 0)
    rollup_upsert_batch(b, store, 1)
    before = _got(spark, store)
    rollup_upsert_batch(b, store, 1)  # crash-replay of the same batch
    assert _got(spark, store) == before == _expected(spark)


def test_compaction_preserves_view_and_dedups_folded_replays(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    rollup_upsert_batch(a, store, 0)
    rollup_upsert_batch(b, store, 1)
    assert compact_rollup(spark, store) == 1
    assert _got(spark, store) == _expected(spark)
    # folded delta dirs are swept; base serves alone
    assert not os.path.isdir(os.path.join(store, "deltas", "batch_id=0"))
    # a replay of an already-folded batch must be dropped by the sink
    rollup_upsert_batch(b, store, 1)
    assert not os.path.isdir(os.path.join(store, "deltas", "batch_id=1"))
    assert _got(spark, store) == _expected(spark)
    # compacting with no new deltas is a no-op
    assert compact_rollup(spark, store) == 1


def test_post_compaction_increments_still_merge(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    rollup_upsert_batch(a, store, 0)
    compact_rollup(spark, store)
    rollup_upsert_batch(b, store, 1)  # arrives after the fold
    assert _got(spark, store) == _expected(spark)
    assert compact_rollup(spark, store) == 1
    assert _got(spark, store) == _expected(spark)


def _rollup_of(spark, df):
    return {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in (
            df.groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .collect()
        )
    }


def test_time_travel_reconstructs_each_watermark(spark, tmp_path):
    from etl_jlp_spark.streaming.rollup_sink import rollup_view_as_of, vacuum_rollup

    store = str(tmp_path / "store")
    os.makedirs(store)
    ev = load_table(spark, SF_SMALL, "events")
    thirds = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    rollup_upsert_batch(thirds[0], store, 0)
    rollup_upsert_batch(thirds[1], store, 1)
    assert compact_rollup(spark, store, retain=True) == 1
    rollup_upsert_batch(thirds[2], store, 2)

    def as_of(n):
        return {
            (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
            for r in rollup_view_as_of(spark, store, n).collect()
        }

    assert as_of(0) == _rollup_of(spark, thirds[0])
    assert as_of(1) == _rollup_of(spark, thirds[0].unionByName(thirds[1]))
    assert as_of(2) == _expected(spark)
    # retained history: folded delta dirs still on disk
    assert os.path.isdir(os.path.join(store, "deltas", "batch_id=0"))
    # serving view unaffected by retention
    assert _got(spark, store) == _expected(spark)

    removed = vacuum_rollup(store)
    assert removed >= 2  # folded deltas 0,1 swept; only current base kept
    assert _got(spark, store) == _expected(spark)  # view identical post-vacuum
    try:
        as_of(0)
        raised = False
    except (ValueError, FileNotFoundError):
        raised = True
    assert raised, "vacuumed watermark must raise, not serve partial data"


def test_vacuum_keeps_unfolded_deltas(spark, tmp_path):
    from etl_jlp_spark.streaming.rollup_sink import vacuum_rollup

    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    rollup_upsert_batch(a, store, 0)
    compact_rollup(spark, store, retain=True)
    rollup_upsert_batch(b, store, 1)  # unfolded — must survive vacuum
    vacuum_rollup(store)
    assert os.path.isdir(os.path.join(store, "deltas", "batch_id=1"))
    assert _got(spark, store) == _expected(spark)


def test_time_travel_base_v0_does_not_double_count_delta_0(spark, tmp_path):
    """Regression: after compact_rollup(retain=True) folds ONLY batch 0,
    the base is version v0 and delta batch_id=0 is still on disk. Time
    travel to watermark 0 must serve base v0 alone — the old
    `(base_v or -1)` treated v0 as absent (0 is falsy) and re-applied
    delta 0 on top of it, double-counting every batch-0 event."""
    from etl_jlp_spark.streaming.rollup_sink import rollup_view_as_of

    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    rollup_upsert_batch(a, store, 0)
    assert compact_rollup(spark, store, retain=True) == 0  # base = v0
    rollup_upsert_batch(b, store, 1)

    got0 = {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in rollup_view_as_of(spark, store, 0).collect()
    }
    assert got0 == _rollup_of(spark, a)  # NOT 2× the batch-0 counts
    got1 = {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in rollup_view_as_of(spark, store, 1).collect()
    }
    assert got1 == _expected(spark)


def test_corrupt_pointer_raises_and_keeps_base(spark, tmp_path):
    """Only a MISSING pointer means a fresh store. Read as fresh, an
    unreadable one made the view drop the compacted base, compaction
    publish a base without it, and vacuum delete every base version."""
    import pytest

    from etl_jlp_spark.streaming.rollup_sink import vacuum_rollup

    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    rollup_upsert_batch(a, store, 0)
    assert compact_rollup(spark, store) == 0  # base = v0
    rollup_upsert_batch(b, store, 1)  # unfolded delta
    with open(os.path.join(store, "_POINTER.json"), "w") as fh:
        fh.write('{"base": "v0", "through_')
    for call in (
        lambda: rollup_view(spark, store),
        lambda: compact_rollup(spark, store),
        lambda: vacuum_rollup(store),
    ):
        with pytest.raises(ValueError):
            call()
    assert os.path.isdir(os.path.join(store, "base", "v0"))
