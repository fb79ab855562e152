"""applyInPandasWithState operators: each availableNow run must end on
its own, and every row the stream emits must equal the batch twin's row
for that event."""

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.operators.sessionize import (
    DEFAULT_LAST_PAGE_S,
    with_session_id,
    with_time_on_page,
)
from etl_jlp_spark.streaming.pipeline import DEFAULT_WATERMARK_DELAY, launch, stream_events
from etl_jlp_spark.streaming.stateful import sessionize_stateful, time_on_page_stateful

# Streaming runs: part of the default run; select or exclude them with
# -m slow / -m "not slow".
pytestmark = pytest.mark.slow

# an availableNow run over sf0.001 takes ~20 s here; a stream that keeps
# running no-data batches never ends, so it fails this bound
DONE_S = 120
TOP_COLS = ["event_id", "user_id", "ts", "raw_time_on_page", "capped_time_on_page"]


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _run(spark, operator, src, out, ckpt):
    assert launch(operator(stream_events(spark, src)), ckpt, out).awaitTermination(DONE_S)


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    ev = load_table(spark, SF_SMALL, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    _run(spark, sessionize_stateful, src, out, ckpt)
    cols = ["event_id", "user_id", "ts", "session_id"]
    want = _rows(with_session_id(ev.select("event_id", "user_id", "ts")), cols)
    assert _rows(spark.read.parquet(out), cols) == want


def test_stateful_time_on_page_matches_batch(spark, tmp_path):
    """One run: every event with a successor gets the batch lead gap; a
    user's last event is emitted with the default once the watermark is
    the default past it, and stays held in state otherwise."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    ev = load_table(spark, SF_SMALL, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(src)

    _run(spark, time_on_page_stateful, src, out, ckpt)
    watermark = ev.agg(F.max("ts") - F.expr(f"INTERVAL {DEFAULT_WATERMARK_DELAY}")).first()[0]
    nxt = F.lead("ts").over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
    batch = with_time_on_page(ev.select("event_id", "user_id", "ts")).withColumn("nxt", nxt)
    timed_out = F.col("ts") + F.expr(f"INTERVAL {int(DEFAULT_LAST_PAGE_S)} SECONDS") < F.lit(
        watermark
    )
    want = _rows(batch.filter(F.col("nxt").isNotNull() | timed_out), TOP_COLS)
    assert _rows(spark.read.parquet(out), TOP_COLS) == want
    assert batch.filter(F.col("nxt").isNull() & timed_out).count() > 0  # defaults emitted


def test_stateful_time_on_page_cross_batch_boundary(spark, tmp_path):
    """Runs on one checkpoint: the event held at the end of run N is
    finalized by its run-N+1 successor with the REAL gap (the streaming
    patch_time_on_page); a later event of another user moves the
    watermark past the held event, which is then emitted with the
    default."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    arrivals = [
        [(1, t0, 100), (2, t0 + dt.timedelta(seconds=60), 100)],
        [(3, t0 + dt.timedelta(seconds=90), 100)],
        [(4, t0 + dt.timedelta(hours=10), 200)],
    ]
    emitted = [{1}, {1, 2}, {1, 2, 3}]  # event 2, then 3, then 4 is held
    everything = []
    for rows, ids in zip(arrivals, emitted):
        everything += [(i, ts, u, "view", 1.0, "{}") for i, ts, u in rows]
        spark.createDataFrame(everything[-len(rows) :], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _run(spark, time_on_page_stateful, src, out, ckpt)
        batch = with_time_on_page(spark.createDataFrame(everything, schema))
        want = _rows(batch.filter(F.col("event_id").isin(list(ids))), TOP_COLS)
        assert _rows(spark.read.parquet(out), TOP_COLS) == want
    got = {r["event_id"]: r["raw_time_on_page"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 60.0, 2: 30.0, 3: DEFAULT_LAST_PAGE_S}
