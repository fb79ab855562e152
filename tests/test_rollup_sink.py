"""The mergeable streaming store, through the rollup: exactly-once under
replay, compaction correctness, pointer-based dedup of folded batches,
time travel and vacuum; and compaction bounding the view of every
merge."""

import glob
import os
from collections import Counter
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.operators.kmv import kmv_sketch
from etl_jlp_spark.operators.sketches import cms_counters, hll_registers
from etl_jlp_spark.plans.regression import did_cells
from etl_jlp_spark.streaming.pipeline import (
    cms_merge,
    cms_view,
    did_merge,
    did_view,
    hll_merge,
    hll_view,
    kmv_merge,
    kmv_view,
)
from etl_jlp_spark.streaming.rollup_sink import (
    compact_rollup,
    rollup_merge,
    rollup_partial,
    rollup_view,
    streaming_rollup_maintain,
)
from etl_jlp_spark.streaming.store import append, compact, vacuum, view


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
    append(rollup_partial(a), store, 0)
    append(rollup_partial(b), store, 1)
    before = _got(spark, store)
    append(rollup_partial(b), store, 1)  # crash-replay of the same batch
    assert _got(spark, store) == before == _expected(spark)


def test_compaction_preserves_view_and_dedups_folded_replays(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    append(rollup_partial(a), store, 0)
    append(rollup_partial(b), store, 1)
    assert compact_rollup(spark, store) == 1
    assert _got(spark, store) == _expected(spark)
    # folded delta dirs are swept; base serves alone
    assert not os.path.isdir(os.path.join(store, "deltas", "batch_id=0"))
    # a replay of an already-folded batch must be dropped by the sink
    append(rollup_partial(b), store, 1)
    assert not os.path.isdir(os.path.join(store, "deltas", "batch_id=1"))
    assert _got(spark, store) == _expected(spark)
    # compacting with no new deltas is a no-op
    assert compact_rollup(spark, store) == 1


def test_post_compaction_increments_still_merge(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    append(rollup_partial(a), store, 0)
    compact_rollup(spark, store)
    append(rollup_partial(b), store, 1)  # arrives after the fold
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
    store = str(tmp_path / "store")
    os.makedirs(store)
    ev = load_table(spark, SF_SMALL, "events")
    thirds = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    append(rollup_partial(thirds[0]), store, 0)
    append(rollup_partial(thirds[1]), store, 1)
    assert compact_rollup(spark, store, retain=True) == 1
    append(rollup_partial(thirds[2]), store, 2)

    def as_of(n):
        return {
            (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
            for r in view(spark, store, rollup_merge, as_of=n).collect()
        }

    assert as_of(0) == _rollup_of(spark, thirds[0])
    assert as_of(1) == _rollup_of(spark, thirds[0].unionByName(thirds[1]))
    assert as_of(2) == _expected(spark)
    # retained history: folded delta dirs still on disk
    assert os.path.isdir(os.path.join(store, "deltas", "batch_id=0"))
    # serving view unaffected by retention
    assert _got(spark, store) == _expected(spark)

    removed = vacuum(store)
    assert removed >= 2  # folded deltas 0,1 swept; only current base kept
    assert _got(spark, store) == _expected(spark)  # view identical post-vacuum
    try:
        as_of(0)
        raised = False
    except (ValueError, FileNotFoundError):
        raised = True
    assert raised, "vacuumed watermark must raise, not serve partial data"


def test_vacuum_keeps_unfolded_deltas(spark, tmp_path):
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    append(rollup_partial(a), store, 0)
    compact_rollup(spark, store, retain=True)
    append(rollup_partial(b), store, 1)  # unfolded — must survive vacuum
    vacuum(store)
    assert os.path.isdir(os.path.join(store, "deltas", "batch_id=1"))
    assert _got(spark, store) == _expected(spark)


def test_time_travel_base_v0_does_not_double_count_delta_0(spark, tmp_path):
    """Regression: after compact_rollup(retain=True) folds ONLY batch 0,
    the base is version v0 and delta batch_id=0 is still on disk. Time
    travel to watermark 0 must serve base v0 alone — the old
    `(base_v or -1)` treated v0 as absent (0 is falsy) and re-applied
    delta 0 on top of it, double-counting every batch-0 event."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    append(rollup_partial(a), store, 0)
    assert compact_rollup(spark, store, retain=True) == 0  # base = v0
    append(rollup_partial(b), store, 1)

    got0 = {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in view(spark, store, rollup_merge, as_of=0).collect()
    }
    assert got0 == _rollup_of(spark, a)  # NOT 2× the batch-0 counts
    got1 = {
        (r["day"], r["event_type"], r["n_events"], round(r["sum_value"], 2))
        for r in view(spark, store, rollup_merge, as_of=1).collect()
    }
    assert got1 == _expected(spark)


def test_corrupt_pointer_raises_and_keeps_base(spark, tmp_path):
    """Only a MISSING pointer means a fresh store. Read as fresh, an
    unreadable one made the view drop the compacted base, compaction
    publish a base without it, and vacuum delete every base version."""
    store = str(tmp_path / "store")
    os.makedirs(store)
    a, b = _halves(spark)
    append(rollup_partial(a), store, 0)
    assert compact_rollup(spark, store) == 0  # base = v0
    append(rollup_partial(b), store, 1)  # unfolded delta
    with open(os.path.join(store, "_POINTER.json"), "w") as fh:
        fh.write('{"base": "v0", "through_')
    for call in (
        lambda: rollup_view(spark, store),
        lambda: compact_rollup(spark, store),
        lambda: vacuum(store),
    ):
        with pytest.raises(ValueError):
            call()
    assert os.path.isdir(os.path.join(store, "base", "v0"))


def _day_registers(batch):
    return hll_registers(
        batch.select(F.col("ts").cast("date").alias("day"), "event_id"), "event_id", ["day"]
    )


def _kmv(batch):
    # keyed by event_id: every type has more distinct ids than KMV_K, so
    # the merge must re-rank a saturated bottom-K across partials
    return kmv_sketch(batch, "event_type", "event_id").select("g", "hv")


# (per-batch partial, merge, the view as served) of every mergeable store
MERGES = {
    "rollup": (rollup_partial, rollup_merge, rollup_view),
    "cms": (cms_counters, cms_merge, cms_view),
    "hll": (_day_registers, hll_merge, hll_view),
    "kmv": (_kmv, kmv_merge, kmv_view),
    "did": (did_cells, did_merge, did_view),
}


def _files(spark, df):
    return {urlparse(f).path for f in df.inputFiles()}


def _parquet_under(path):
    return set(glob.glob(os.path.join(path, "*.parquet")))


@pytest.mark.parametrize("name", sorted(MERGES))
def test_compaction_bounds_every_merge(spark, tmp_path, name):
    """20 partials folded by ``compact`` leave the view's answer as it
    was and read only the base's files; one more batch adds exactly its
    delta's files. The answer then equals a one-partial store over all
    of the rows, so the merge and its estimator are exact."""
    op, merge, read = MERGES[name]
    store, whole = str(tmp_path / "store"), str(tmp_path / "whole")
    ev = load_table(spark, SF_SMALL, "events")
    part = [ev.filter(F.col("event_id") % 21 == i) for i in range(21)]

    def answer(d):
        rows = read(spark, d).collect()
        return Counter(tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows)

    for i in range(20):
        append(op(part[i]), store, i)
    before = answer(store)
    assert compact(spark, store, merge) == 19
    assert answer(store) == before
    base = _parquet_under(os.path.join(store, "base", "v19"))
    assert base and _files(spark, read(spark, store)) == base
    append(op(part[20]), store, 20)
    delta = _parquet_under(os.path.join(store, "deltas", "batch_id=20"))
    assert delta and _files(spark, read(spark, store)) == base | delta
    append(op(ev), whole, 0)
    assert answer(store) == answer(whole)
